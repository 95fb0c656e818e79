"""Incremental dedup — attach a NEW crawl batch to an EXISTING dedup index
without recomputing the index.  At 10^12-doc scale the full pipeline runs
once per corpus, not once per crawl: each new batch is deduped against the
persisted signatures of everything already processed, and only affected
clusters re-consolidate.

Index = the stage tables a previous ``DedupPipeline`` run left in its
workdir (``ingest`` docs, ``signatures``, ``cc`` assignments) — the
incremental pass reads them as plain parquet and never rewrites them.

Pinned contract:
  * APPEND-ONLY: existing cluster assignments never change;
  * a new doc (or a whole new-new connected component) attaches to the
    MINIMUM existing cluster id among its verified edges into the index;
  * a component bridging >= 2 existing clusters still attaches to the
    minimum, and the bridge is RECORDED in the ``bridges`` output — the
    signal that a periodic full recluster (:meth:`IncrementalDedup.compact`)
    is due, never a silent merge or a silent drop;
  * detection scope: MinHash-LSH bands + Jaccard verification, new-vs-new
    SimHash, AND — when the index carries the pipeline's persisted
    ``anchors`` table — the substring pass as a delta anchor equi-join
    (cross and new-new).  An index built with ``include_substring=False``
    runs without it, documented in ``report['scope']``, never silent;
  * ``compact()`` = the periodic full recluster: reruns the complete
    pipeline over the extended index in place, resolves recorded bridges,
    emits an old->new cluster-id map, and leaves the workdir a valid
    resumable DedupPipeline checkpoint again.

Scale shape: the cross join touches only LSH band buckets that contain at
least one NEW doc (the band equi-join prunes the index side); per bucket,
each new doc pairs with the MINIMUM old doc (``lsh.cross_star_edges``, the
incremental form of the pipeline's one star rule: <= bands edges per new
doc — never |new| x |old|); new-vs-new edges come from the pipeline's own
``candidate_edges``/``verified_edges``; verification joins project
signatures to (doc_id, minhash) only.  Old text is re-read ONLY for
clusters that actually gained members (semi-join prune on the ingest
table).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.operators import lsh, simhash, verify
from deduplication_challenge_spark.plans.checkpointing import (
    fs_delete,
    fs_exists,
    fs_listdir,
    fs_join,
    fs_read_text,
    fs_rename,
    fs_write_text,
    stage_checkpoint,
)
from deduplication_challenge_spark.operators.connected_components import (
    connected_components,
)
from deduplication_challenge_spark.operators.consolidate import (
    attach_clusters,
    consolidate,
)
from deduplication_challenge_spark.operators.ingest import extract_pages
from deduplication_challenge_spark.operators.signatures import compute_signatures
from deduplication_challenge_spark.operators.suffixarray import anchor_join_key, anchor_table
from deduplication_challenge_spark.plans.pipeline import (
    DedupPipeline,
    candidate_edges,
    verified_edges,
)


# scheme-preserving path join, shared with plans/pipeline.py
_j = fs_join


#: core stage tables whose row counts journal the compact swap (parquet
#: metadata counts — no data scan)
_SWAP_COUNT_STAGES = ("ingest", "signatures", "cc")


def _apply_compact_swap(spark: SparkSession, workdir: str, j: dict) -> None:
    """Execute (or RE-execute after a crash) the in-place compact swap
    described by journal ``j`` = {tmp, children, expected}.  Idempotent at
    every crash point: each child is moved by one atomic rename, so a child
    lives in exactly one of tmp/workdir at all times — re-running deletes
    remaining stale entries, moves whatever is still in tmp, and accepts
    children already moved."""
    keep = set(j["children"]) | {"compact.journal.json"}
    for name, _, _ in fs_listdir(spark, workdir):
        # hidden '.…crc' checksum sidecars follow their main file through
        # Hadoop delete/rename — never handled (or deleted) independently
        if name not in keep and not name.startswith("."):
            fs_delete(spark, _j(workdir, name))
    tmp = j["tmp"]
    for name in j["children"]:
        src, dst = _j(tmp, name), _j(workdir, name)
        if fs_exists(spark, src):
            # stale same-named entry (old stage table) still present: the
            # journaled child supersedes it
            if fs_exists(spark, dst):
                fs_delete(spark, dst)
            fs_rename(spark, src, dst)
        elif not fs_exists(spark, dst):
            raise RuntimeError(
                f"compact swap: journaled entry {name!r} exists in neither "
                f"{tmp} nor {workdir} — the compacted run is damaged; rerun "
                "compact() after removing compact.journal.json and the tmp dir"
            )
    if fs_exists(spark, tmp):
        fs_delete(spark, tmp)


def lsh_cross_candidates(bands_new: DataFrame, bands_old: DataFrame) -> DataFrame:
    """Cross candidates (src=new, dst=old) over LSH band buckets: the star
    rule's incremental form, ``lsh.cross_star_edges``."""
    return lsh.cross_star_edges(bands_new, bands_old, ["band_idx", "band_hash"])


def substring_cross_candidates(
    anchors_new: DataFrame, anchors_old: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Delta substring pass: new-batch winnowed anchors joined against the
    index's persisted anchor table ({workdir}/anchors, written by the
    pipeline's candidates stage when ``include_substring=True``) by the
    same ``lsh.cross_star_edges`` rule as the band buckets.  Anchors are
    position- and batch-independent functions of each doc's own content
    (operators/suffixarray.anchor_table), so a verbatim run shared across
    batches yields identical anchor values in both tables."""
    return lsh.cross_star_edges(anchors_new, anchors_old, anchor_join_key(cfg))


def simhash_cross_candidates(
    chunks_new: DataFrame, chunks_old: DataFrame, hamming_k: int
) -> DataFrame:
    """Manku's online probe as an equi-join: new permuted chunk keys vs the
    index's chunk table (min old per bucket), accepted on Hamming <= k."""
    old_min = chunks_old.groupBy("chunk_idx", "chunk_val").agg(
        F.min(F.struct("doc_id", "simhash")).alias("o")
    )
    return (
        chunks_new.join(old_min, ["chunk_idx", "chunk_val"])
        .where(
            F.bit_count(F.col("simhash").bitwiseXOR(F.col("o.simhash"))) <= hamming_k
        )
        .select(F.col("doc_id").alias("src"), F.col("o.doc_id").alias("dst"))
        .distinct()
    )


class IncrementalDedup:
    """Attach new pages to the index in ``index_workdir`` (a completed
    DedupPipeline workdir with the SAME config)."""

    def __init__(self, spark: SparkSession, cfg: DedupConfig, index_workdir: str) -> None:
        self.spark = spark
        self.cfg = cfg
        self.workdir = index_workdir
        # every driver-side filesystem operation on the index goes through
        # the Hadoop FS API (plans/checkpointing.py) so the SAME code path
        # serves a driver-local dir, a file:-scheme URI, HDFS and object
        # stores — on a real cluster the index lives where the stage tables
        # were written, never on the driver's disk.
        cj = _j(index_workdir, "compact.journal.json")
        if fs_exists(spark, cj):
            # a compact() swap crashed mid-flight.  The swap is journaled
            # with its full child list and expected stage counts and each
            # child moves by one atomic rename, so it is RE-RUNNABLE from
            # any crash point: finish it, verify counts, clear the journal.
            try:
                j = json.loads(fs_read_text(spark, cj))
            except Exception:
                # torn journal writes surface as Py4JJavaError (Hadoop
                # checksum/EOF), not OSError — catch everything and let the
                # unreadable-journal refusal below carry the diagnosis
                j = {}
            if not all(k in j for k in ("tmp", "children", "expected")):
                raise RuntimeError(
                    f"index at {index_workdir} has a crashed compact() swap "
                    "with an unreadable/legacy journal — the swap cannot be "
                    "replayed; rebuild the index with a full DedupPipeline "
                    "run (or rerun compact() over the _compact_tmp sibling "
                    "if it is intact) after removing compact.journal.json"
                )
            _apply_compact_swap(spark, index_workdir, j)
            actual = {s: self._table_count(s) for s in j["expected"]}
            if actual != j["expected"]:
                raise RuntimeError(
                    f"index at {index_workdir}: compact-swap recovery "
                    f"completed but stage counts {actual} != journaled "
                    f"{j['expected']} — the compacted tables are damaged; "
                    "rebuild with a full DedupPipeline run"
                )
            fs_delete(spark, cj)
        for stage in ("ingest", "signatures", "cc"):
            if not fs_exists(spark, _j(index_workdir, stage)):
                raise FileNotFoundError(
                    f"index workdir is missing the '{stage}' stage table: "
                    f"{index_workdir} (run DedupPipeline first)"
                )
        # an extend.journal left behind means a previous extend_index crashed
        # mid-promote: verify the journaled expected counts against the
        # tables (parquet-metadata counts, no scan).  Matching counts =
        # promote completed and only the journal unlink was lost — clean up
        # and proceed; mismatched = the stage tables DISAGREE and silently
        # attaching against them would corrupt cluster membership — refuse.
        journal = _j(index_workdir, "extend.journal.json")
        staging = _j(index_workdir, "_extend_staging")
        if fs_exists(spark, journal):
            try:
                j = json.loads(fs_read_text(spark, journal))
            except Exception:
                # unreadable journal = the crash happened DURING the journal
                # write itself (torn file / checksum mismatch arrives as a
                # Py4JJavaError).  extend_index writes the journal before it
                # touches any main table, so the index is still in its
                # pre-extend state: roll back the staging dir and proceed.
                if fs_exists(spark, staging):
                    fs_delete(spark, staging)
                fs_delete(spark, journal)
                j = None
        else:
            j = None
        if j is not None:
            actual = {s: self._table_count(s) for s in j["expected"]}
            if actual == j["expected"]:
                # promote completed; only the cleanup tail was lost — the
                # staging dir (all its part files were renamed away, but the
                # dir itself plus _SUCCESS markers survive) goes too
                if fs_exists(spark, staging):
                    fs_delete(spark, staging)
                fs_delete(spark, journal)
            elif actual == j["before"]:
                # crash before any rename — tables untouched; roll back
                if fs_exists(spark, staging):
                    fs_delete(spark, staging)
                fs_delete(spark, journal)
            else:
                raise RuntimeError(
                    f"index at {index_workdir} has a crashed extend_index mid-"
                    f"promote: table counts {actual} match neither the pre-"
                    f"extend {j['before']} nor the expected {j['expected']} "
                    "state — the stage tables are inconsistent; rebuild the "
                    "index with compact() or a fresh DedupPipeline run"
                )
        self._validate_index_config()

    def _meta_path(self) -> str:
        return _j(self.workdir, "index.meta.json")

    def _read_meta(self) -> dict:
        if fs_exists(self.spark, self._meta_path()):
            try:
                return json.loads(fs_read_text(self.spark, self._meta_path()))
            except Exception:
                # the meta file is advisory (compaction hints) plus the
                # post-extension config authority; a torn write must not
                # make the index unconstructable.  Fall back to {} — the
                # config check then uses any surviving stage manifest.
                return {}
        return {}

    def _write_meta(self, meta: dict) -> None:
        fs_write_text(self.spark, self._meta_path(), json.dumps(meta, indent=2))

    def _validate_index_config(self) -> None:
        """Refuse an index whose stage tables were built under a DIFFERENT
        config than ``self.cfg`` — attaching against them would compute
        incompatible signatures and silently corrupt cluster membership.

        Sources of truth, in precedence order:
          * ``index.meta.json`` — written by extend_index()/compact(), the
            authority once the index has been extended (extension deletes
            the pipeline manifests deliberately);
          * else any surviving stage manifest's ``config_hash``.
        ``config_hash`` excludes checkpoint_mode (recovery knob), so
        resuming under a different mode stays legal.

        Additionally: a persisted ``anchors`` table is only trustworthy if
        its writer is known — either the index is extension-managed (meta
        file present) or the candidates-stage manifest that wrote it
        survives with a matching config_hash.  A pipeline re-run that
        crashed after overwriting anchors but before rebuilding cc leaves
        anchors inconsistent with the rest of the index, and the delta
        substring join must never silently use them."""
        spark, workdir = self.spark, self.workdir
        want = self.cfg.config_hash()
        meta = self._read_meta()
        got, src = None, None
        if meta.get("config_hash"):
            got, src = meta["config_hash"], "index.meta.json"
        else:
            for stage in ("cc", "consolidate", "candidates", "signatures", "ingest"):
                mp = _j(workdir, f"{stage}.manifest.json")
                if not fs_exists(spark, mp):
                    continue
                try:
                    m = json.loads(fs_read_text(spark, mp))
                except Exception:
                    continue
                if m.get("config_hash"):
                    got, src = m["config_hash"], f"{stage}.manifest.json"
                    break
        if got is not None and got != want:
            raise RuntimeError(
                f"index at {workdir} was built with config_hash {got} "
                f"({src}) but this IncrementalDedup was constructed with "
                f"{want} — signatures would be incompatible; pass the "
                "index's original DedupConfig or rebuild with compact()"
            )
        if self._has_anchor_index() and not meta:
            cm = _j(workdir, "candidates.manifest.json")
            ok = False
            if fs_exists(spark, cm):
                try:
                    m = json.loads(fs_read_text(spark, cm))
                    ok = m.get("config_hash") == want
                except Exception:
                    ok = False
            if not ok:
                raise RuntimeError(
                    f"index at {workdir} carries an anchors table but no "
                    "matching candidates manifest — a crashed pipeline "
                    "re-run may have overwritten it with anchors from a "
                    "different config/input; rerun the pipeline to "
                    "completion (or compact()) before attaching batches"
                )

    def _index(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(_j(self.workdir, stage))

    def _has_anchor_index(self) -> bool:
        """True when the index carries the persisted substring-anchor table
        ({workdir}/anchors — runs with ``include_substring=True`` persist it
        as a candidates-stage side output)."""
        return fs_exists(self.spark, _j(self.workdir, "anchors"))

    def run(self, new_pages: DataFrame, recompute_text: bool = True):
        """-> (canonical_updates, assignments_new, bridges, report dict).

        ``canonical_updates`` holds the re-consolidated records for every
        cluster that gained members plus brand-new clusters — the delta to
        upsert over the previous canonical table."""
        cfg = self.cfg
        if cfg.line_dedup_min_docs:
            # line dedup is a CORPUS-WIDE document-frequency decision; a
            # batch cannot recompute it consistently with the index (the
            # index's signatures were taken over line-deduped text, the
            # batch would approximate with batch-local frequencies and the
            # signatures would disagree).  Loud beats approximate — but the
            # guard lives HERE, on delta attach, not on construction:
            # compact() IS the full-run path where the stage legitimately
            # runs, and it must stay reachable for line-deduped corpora.
            raise ValueError(
                "line_dedup_min_docs is a full-run (compaction) stage; "
                "incremental attach over a line-deduped index would compute "
                "inconsistent signatures — unset it for delta batches, or "
                "run compact() (which executes the full pipeline)"
            )
        if cfg.url_dedup:
            # unlike line dedup, url dedup is batch-local-safe: it is
            # per-row canonicalization + within-input first-seen, and a url
            # variant of an INDEXED page simply attaches via signatures
            from deduplication_challenge_spark.operators.urlnorm import dedup_by_url

            new_pages = dedup_by_url(new_pages).drop("canonical_url")
        # every materialization in the attach path honors cfg.checkpoint_mode
        # (plans/checkpointing.py): 'reliable' swaps executor-local pins for
        # HDFS/object-store checkpoints so an executor loss mid-attach
        # recovers instead of killing the query — the same fragility
        # argument as the CC fixpoint loop, applied to the delta path
        docs_new = stage_checkpoint(
            extract_pages(new_pages, recompute_text=recompute_text), cfg
        )
        sigs_new = stage_checkpoint(compute_signatures(docs_new, cfg), cfg)

        assign_old = self._index("cc")  # (doc_id, cluster_id)
        # a re-crawled url carries the SAME doc_id in the batch and the
        # index with possibly different signatures; the NEW signature is the
        # page's live content, so STALE index rows for re-crawled doc_ids
        # are excluded from EVERY old-side table (bands, simhash chunks,
        # verification union, anchors below) — otherwise a new doc could
        # attach to a page based on content it no longer has (the simhash
        # probe accepts directly on the old table, so filtering only the
        # verification union would not be enough)
        sigs_old = self._index("signatures").join(
            sigs_new.select("doc_id"), "doc_id", "left_anti"
        )

        cross = lsh_cross_candidates(lsh.band_table(sigs_new), lsh.band_table(sigs_old))
        sigs_union = sigs_new.unionByName(sigs_old)
        cross_lsh = verify.verify_pairs(cross, sigs_union, cfg).select("src", "dst")

        cross_sim = simhash_cross_candidates(
            simhash.simhash_chunk_table(sigs_new, cfg),
            simhash.simhash_chunk_table(sigs_old, cfg),
            cfg.hamming_k,
        )
        cross_parts = [cross_lsh, cross_sim]

        # substring delta: when the index carries the pipeline's persisted
        # anchor table ({workdir}/anchors, include_substring=True), the
        # new batch's anchors equi-join against it — the biggest former
        # scope cut of the incremental path.  Substring pairs are exact by
        # construction (same rule as the batch pipeline): no Jaccard verify.
        substr_active = self._has_anchor_index()
        anchors_new = None
        if substr_active:
            anchors_new = stage_checkpoint(anchor_table(docs_new, cfg), cfg)
            self._anchors_new = anchors_new
            anchors_old = self._index("anchors")
            # a re-crawled url (same doc_id) may have stale anchors in the
            # index: exclude by the BATCH's doc ids (docs_new), NOT by
            # anchors_new's — a re-crawl whose new text is shorter than
            # substr_min_len has NO rows in anchors_new, and keying the
            # anti-join on it would leave the deleted page's old anchors
            # joinable (a new doc could attach to content the page no
            # longer has — the same trap as the signature union above)
            anchors_old = anchors_old.join(
                docs_new.select("doc_id"), "doc_id", "left_anti"
            )
            cross_parts.append(substring_cross_candidates(anchors_new, anchors_old, cfg))

        # lazy checkpoint: cross_ok feeds the attach join AND two report
        # counters — without it the band join + verify + simhash probe (the
        # dominant cost at index scale) would re-execute per consumer
        cross_ok = cross_parts[0]
        for p in cross_parts[1:]:
            cross_ok = cross_ok.unionByName(p)
        cross_ok = stage_checkpoint(cross_ok.distinct(), cfg)

        # new-vs-new edges: the batch pipeline's own edge rules at batch scale
        nn_candidates, _ = candidate_edges(sigs_new, anchors_new, cfg)
        nn_ok = verified_edges(nn_candidates, sigs_new, cfg)
        comps = connected_components(
            nn_ok, checkpoint_mode=cfg.checkpoint_mode
        )  # (doc_id, cluster_id) among new
        comp_of = docs_new.select("doc_id").join(comps, "doc_id", "left").select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("comp_id")
        )

        # attachment: per component, min existing cluster over members' edges.
        # LEFT join + coalesce because the persisted cc table only contains
        # docs that appeared in edges — an index doc that was a SINGLETON
        # has no row there and its implicit cluster id is its own doc_id
        # (the same coalesce rule consolidate applies)
        attach = (
            cross_ok.join(
                assign_old.select(
                    F.col("doc_id").alias("dst"), F.col("cluster_id").alias("old_cluster")
                ),
                "dst",
                "left",
            )
            .withColumn("old_cluster", F.coalesce("old_cluster", F.col("dst")))
            .join(comp_of.select(F.col("doc_id").alias("src"), "comp_id"), "src")
        )
        per_comp = attach.groupBy("comp_id").agg(
            F.min("old_cluster").alias("attached_cluster"),
            F.countDistinct("old_cluster").alias("n_old_clusters"),
            # sort BEFORE capping: the 16 SMALLEST cluster ids, deterministic
            # (and always containing attached_cluster = the minimum)
            F.slice(F.array_sort(F.collect_set("old_cluster")), 1, 16).alias(
                "bridged_clusters"
            ),
        )
        # feeds assignments + bridges + report
        per_comp = stage_checkpoint(per_comp, cfg)
        bridges = per_comp.where(F.col("n_old_clusters") >= 2).select(
            "comp_id", "n_old_clusters", "bridged_clusters"
        )
        assignments_new = stage_checkpoint(
            comp_of.join(per_comp.select("comp_id", "attached_cluster"), "comp_id", "left")
            .select(
                "doc_id",
                F.coalesce("attached_cluster", "comp_id").alias("cluster_id"),
                F.col("attached_cluster").isNotNull().alias("attached"),
            ),
            cfg,
        )

        # delta consolidation: old members of clusters that gained members,
        # plus every new doc
        touched = assignments_new.where("attached").select("cluster_id").distinct()
        docs_old_touched = (
            self._index("ingest")
            .join(assign_old, "doc_id", "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
            .join(touched, "cluster_id", "left_semi")
            # re-crawl of a known url carries the SAME doc_id (xxhash64(url));
            # the new version wins (last-write-wins) so the doc never appears
            # twice in one consolidation group
            .join(docs_new.select("doc_id"), "doc_id", "left_anti")
        )
        docs_all = attach_clusters(docs_new, assignments_new.select("doc_id", "cluster_id")).unionByName(
            docs_old_touched, allowMissingColumns=True
        ).drop("attached")
        canonical_updates = consolidate(docs_all, cfg.min_group_size)

        report = {
            "new_docs": docs_new.count(),
            "cross_pairs_verified": cross_ok.count(),
            "attached_docs": assignments_new.where("attached").count(),
            "new_clusters": assignments_new.where("NOT attached")
            .select("cluster_id").distinct().count(),
            "bridges": bridges.count(),
            "scope": (
                "minhash-lsh+verify cross; lsh+simhash new-new; substring "
                "via persisted anchor-table equi-join (cross + new-new)"
                if substr_active
                else "minhash-lsh+verify cross; lsh+simhash new-new; "
                "substring pass OFF (index has no anchors table — build the "
                "index with include_substring=True, or compact())"
            ),
        }
        self._last = (docs_new, sigs_new, assignments_new)
        self._last_bridges = report["bridges"]
        return canonical_updates, assignments_new, bridges, report

    def _table_count(self, stage: str) -> int:
        """Parquet-metadata row count of an index stage table (no data scan)."""
        return self._index(stage).count()

    def compact(self):
        """Periodic full recluster over the (extended) index, IN PLACE:
        -> (canonical, cluster_map, report).

        Reruns the complete DedupPipeline — every stage, including the
        suffix-array substring pass and the persisted anchors index — over
        all docs accumulated in the index, so recorded bridges resolve into
        real merges and append-only drift is flushed.  The workdir becomes a
        valid resumable DedupPipeline checkpoint again (fresh stage tables +
        manifests), and subsequent ``run()`` batches attach against the
        compacted state.

        ``cluster_map`` is the distinct (old_cluster_id, new_cluster_id)
        mapping over every doc in the index (implicit singletons included on
        both sides via the coalesce-to-doc_id rule) — the relation callers
        apply to any externally-stored cluster references.  A bridged pair
        of old clusters maps to ONE new cluster id; an old cluster split by
        config-identical recluster cannot occur (detection is deterministic
        and compaction only ADDS the substring/corpus-wide context).

        Crash safety: the new pipeline runs in a sibling temp workdir; the
        in-place swap is journaled with its full child list and expected
        post-swap stage counts, and every child moves by one atomic rename —
        so ``__init__`` on a crashed index RE-RUNS the swap to completion
        (``_apply_compact_swap`` is idempotent from any crash point) and
        verifies the counts, instead of refusing a fully-recoverable state.
        All filesystem traffic goes through the Hadoop FS API, so the swap
        works identically on a driver-local dir, HDFS, or an object store."""
        spark = self.spark
        docs = self._index("ingest")
        # old assignments (incl. implicit singletons), materialized EAGERLY:
        # the swap below deletes the very parquet dirs this plan reads
        old_full = stage_checkpoint(
            docs.select("doc_id")
            .join(self._index("cc"), "doc_id", "left")
            .select(
                "doc_id", F.coalesce("cluster_id", "doc_id").alias("old_cluster_id")
            ),
            self.cfg,
            eager=True,
        )
        pages = docs.select(
            "url", "warc_ts", F.lit(None).cast("binary").alias("html"), "text", "lang"
        )
        tmp = self.workdir.rstrip("/") + "_compact_tmp"
        if fs_exists(spark, tmp):
            fs_delete(spark, tmp)
        pipe = DedupPipeline(
            spark, self.cfg, tmp, include_substring=True, recompute_text=False
        )
        _, report = pipe.run(pages, input_desc=f"compact:{self.workdir}")

        # hidden entries (ChecksumFileSystem '.…crc' sidecars) are NOT
        # journaled: Hadoop's rename/delete carries a sidecar along with its
        # main file, so listing them as children would double-handle them
        children = [
            name for name, _, _ in fs_listdir(spark, tmp) if not name.startswith(".")
        ]
        expected = {
            s: spark.read.parquet(_j(tmp, s)).count() for s in _SWAP_COUNT_STAGES
        }
        journal = _j(self.workdir, "compact.journal.json")
        j = {"tmp": tmp, "children": children, "expected": expected}
        fs_write_text(spark, journal, json.dumps(j))
        _apply_compact_swap(spark, self.workdir, j)
        actual = {s: self._table_count(s) for s in _SWAP_COUNT_STAGES}
        if actual != expected:
            raise RuntimeError(
                f"compact: post-swap counts {actual} != expected {expected}; "
                "rebuild the index with a full DedupPipeline run"
            )
        fs_delete(spark, journal)
        # recorded bridges are resolved by the recluster: reset the
        # compaction-due counter (the swap deleted the old meta file)
        self._write_meta(
            {
                "config_hash": self.cfg.config_hash(),
                "bridges_accumulated": 0,
                "batches_extended": 0,
            }
        )
        if hasattr(self, "_last"):
            del self._last  # pre-compact batch state is stale

        new_full = (
            old_full.select("doc_id", "old_cluster_id")
            .join(self._index("cc"), "doc_id", "left")
            .select(
                "doc_id",
                "old_cluster_id",
                F.coalesce("cluster_id", "doc_id").alias("new_cluster_id"),
            )
        )
        cluster_map = new_full.select("old_cluster_id", "new_cluster_id").distinct()
        canonical = self._index("consolidate")
        rep = {
            "docs_reclustered": old_full.count(),
            "stages": report.to_dict(),
            "counters": report.counters,
        }
        return canonical, cluster_map, rep

    def extend_index(self) -> None:
        """Grow the index with the batch from the last ``run`` so the NEXT
        batch attaches against everything seen so far — the operational
        loop: run(B); extend_index(); run(C); ...

        Appends the batch's docs / signatures / assignments to the index
        stage tables (parquet append — on Iceberg this is one atomic
        snapshot append).  Re-crawled urls (doc_ids already present in the
        index) are EXCLUDED from the append — first-write-wins for the
        index itself, so a doc_id can never appear twice in the stage
        tables and inflate later consolidation groups; the re-crawl still
        participated in the attach that just ran (its delta consolidation
        was last-write-wins).

        Crash safety (plain parquet has no snapshot atomicity, so this is
        staged + journaled): all tables are written to a STAGING dir first,
        a journal records the expected post-promote row counts, part files
        are then promoted (renames — the narrowest window the filesystem
        offers), counts verified, journal removed.  ``__init__`` refuses an
        index whose journal is present with mismatched counts — a crash
        mid-promote can never silently attach batches against an index
        whose tables disagree.

        The workdir stops being a resumable DedupPipeline checkpoint once
        extended — its stage manifests describe the ORIGINAL run — so the
        manifests are deleted to make any later resume attempt rebuild
        loudly instead of silently reusing stale fingerprints."""
        if not hasattr(self, "_last"):
            raise RuntimeError("extend_index() requires a completed run() first")
        spark = self.spark
        docs_new, sigs_new, assignments_new = self._last
        stages = ["ingest", "signatures", "cc"]
        if self._has_anchor_index():
            if not hasattr(self, "_anchors_new"):
                # can only happen if the anchors table appeared AFTER run()
                # (external mutation) — extending without the batch's anchors
                # would silently blind the substring index to these docs
                raise RuntimeError(
                    "index gained an anchors table after run(); re-run the "
                    "batch so its anchors are computed before extending"
                )
            stages.append("anchors")
        known = self._index("ingest").select("doc_id")
        fresh = stage_checkpoint(
            docs_new.join(known, "doc_id", "left_anti"), self.cfg
        )
        fresh_ids = fresh.select("doc_id")

        staging = _j(self.workdir, "_extend_staging")
        if fs_exists(spark, staging):
            fs_delete(spark, staging)
        fresh.write.parquet(_j(staging, "ingest"))
        sigs_new.join(fresh_ids, "doc_id", "left_semi").write.parquet(
            _j(staging, "signatures")
        )
        assignments_new.select("doc_id", "cluster_id").join(
            fresh_ids, "doc_id", "left_semi"
        ).write.parquet(_j(staging, "cc"))
        if "anchors" in stages:
            self._anchors_new.join(fresh_ids, "doc_id", "left_semi").write.parquet(
                _j(staging, "anchors")
            )

        staged = {
            s: spark.read.parquet(_j(staging, s)).count() for s in stages
        }
        before = {s: self._table_count(s) for s in stages}
        expected = {s: before[s] + staged[s] for s in stages}
        journal = _j(self.workdir, "extend.journal.json")
        fs_write_text(
            spark, journal, json.dumps({"before": before, "expected": expected})
        )

        # pin the config hash in index.meta.json BEFORE deleting the
        # manifests (the other config_hash authority): a crash anywhere in
        # the promote must never leave an index with NO source of truth,
        # where _validate_index_config would silently skip the check and a
        # later attach under a different config would corrupt cluster
        # membership.  Counters are updated only after a successful promote
        # — a rolled-back batch must not count its bridges.
        self._write_meta(
            {**self._read_meta(), "config_hash": self.cfg.config_hash()}
        )
        # manifests become stale the moment promotion starts; delete them
        # first so a crash anywhere below leaves "no manifests" (loud
        # rebuild) rather than "stale manifests" (silent wrong reuse)
        for name, _, _ in fs_listdir(spark, self.workdir):
            if name.endswith(".manifest.json"):
                fs_delete(spark, _j(self.workdir, name))
        for s in stages:
            src_dir = _j(staging, s)
            dst_dir = _j(self.workdir, s)
            for fn, _, _ in fs_listdir(spark, src_dir):
                # _SUCCESS markers stay behind; hidden '.…crc' sidecars move
                # with their main file through the Hadoop rename
                if fn == "_SUCCESS" or fn.endswith("_SUCCESS.crc") or fn.startswith("."):
                    continue
                dst = _j(dst_dir, fn)
                if fs_exists(spark, dst):  # part-file UUIDs make this ~impossible
                    raise RuntimeError(f"extend_index: staged file collides: {dst}")
                fs_rename(spark, _j(src_dir, fn), dst)
        fs_delete(spark, staging)

        actual = {s: self._table_count(s) for s in stages}
        if actual != expected:
            raise RuntimeError(
                f"extend_index: post-promote counts {actual} != expected {expected}; "
                "index is inconsistent — rebuild via compact()"
            )
        fs_delete(spark, journal)
        # advisory compaction accounting (index.meta.json): bridges recorded
        # by the batch that just became part of the index accumulate until
        # compact() resolves them; the meta file also pins the config hash
        # now that the stage manifests are gone.  Non-journaled by design —
        # losing a counter update costs an early/late compaction hint, never
        # correctness.
        meta = self._read_meta()
        self._write_meta(
            {
                "config_hash": self.cfg.config_hash(),
                "bridges_accumulated": int(meta.get("bridges_accumulated", 0))
                + int(getattr(self, "_last_bridges", 0)),
                "batches_extended": int(meta.get("batches_extended", 0)) + 1,
            }
        )
        del self._last

    def should_compact(self, threshold: int = 1) -> dict:
        """Operational compaction trigger for the run→extend loop:
        accumulated bridge count (clusters an appended batch connected
        without merging — the append-only drift compact() resolves) vs a
        threshold.  Reads ``index.meta.json`` maintained by
        ``extend_index``/``compact``; an index never extended reports 0.

        -> {'bridges_accumulated', 'batches_extended', 'threshold',
            'compact_due'}"""
        if threshold < 1:
            raise ValueError(f"threshold must be >= 1, got {threshold}")
        meta = self._read_meta()
        n = int(meta.get("bridges_accumulated", 0))
        return {
            "bridges_accumulated": n,
            "batches_extended": int(meta.get("batches_extended", 0)),
            "threshold": threshold,
            "compact_due": n >= threshold,
        }
