"""Per-layer figures of a traced run.

After a traced round, ``replay`` calls each layer of the program on the same
inputs, one public function at a time, inside a span, and materialises each
layer's output as parquet so the next layer reads it as the pipeline would.
``per_layer`` turns the spans, the pipeline's own ``RunReport`` and the
attach report into the per-layer metrics.  A layer the workload does not use
reports 0.

Where ``DedupPipeline.run`` adds glue between two layer calls, the replay
copies it: the checkpointed anchor frame of the candidates stage, the edge
union of the verify stage and the edge coalesce of the cc stage.  These
copies must be kept in step with the pipeline by hand.
"""

from __future__ import annotations

import math
import os

_MB = 1e6

STAGES = ("ingest", "signatures", "candidates", "verify", "cc", "consolidate")

# name -> unit; the order is the order of the printed metrics
PER_LAYER = {
    "session.build_s": "s",
    "ingest.s": "s",
    "signatures.s": "s",
    "signatures.table_mb": "MB",
    **{f"{layer}.{m}": u for layer in ("lsh", "simhash")
       for m, u in (("s", "s"), ("pairs_out", "count"), ("shuffle_write_mb", "MB"))},
    "suffixarray.s": "s",
    "suffixarray.anchors_out": "count",
    "suffixarray.pairs_out": "count",
    "suffixarray.shuffle_write_mb": "MB",
    "verify.s": "s",
    "verify.pairs_in": "count",
    "verify.accept_ratio": "ratio",
    "verify.shuffle_write_mb": "MB",
    "connected_components.s": "s",
    "connected_components.edges_in": "count",
    "connected_components.nodes_out": "count",
    "consolidate.s": "s",
    "consolidate.clusters_out": "count",
    "consolidate.shuffle_write_mb": "MB",
    **{f"pipeline.{st}.s": "s" for st in STAGES},
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "incremental.s": "s",
    "incremental.cross_lsh_s": "s",
    "incremental.cross_simhash_s": "s",
    "incremental.cross_substring_s": "s",
    "incremental.cross_pairs": "count",
    "incremental.attached_docs": "count",
    "product_merge.group_meta_s": "s",
    "product_merge.frequencies_s": "s",
    "product_merge.s": "s",
    "product_merge.shuffle_write_mb": "MB",
    "product_merge.groups_out": "count",
}


def dir_mb(path: str) -> float:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total / _MB


def read_pages(spark, path: str):
    from deduplication_challenge_spark.sources.pages import spread_input

    return spread_input(spark.read.parquet(path))


class _Layers:
    def __init__(self, run) -> None:
        self.spark = run.spark
        self.base = os.path.join(run.work, "layers")
        self.counts: dict[str, float] = {}

    def save(self, df, name: str):
        """Materialise ``df`` as a parquet table and read it back."""
        path = os.path.join(self.base, name)
        df.write.parquet(path)
        return self.spark.read.parquet(path)


def replay(workload: str, run, rnd: dict) -> None:
    {"crawl_full": _replay_crawl, "product_merge": _replay_products}[workload](run, rnd)
    run.tracer.annotate(rnd["layer_counts"])


def _replay_crawl(run, rnd: dict) -> None:
    from pyspark.sql import functions as F

    from deduplication_challenge_spark.config import DedupConfig
    from deduplication_challenge_spark.operators import lsh, simhash, suffixarray, verify
    from deduplication_challenge_spark.operators.connected_components import (
        SINGLE_TASK_EDGE_LIMIT,
        connected_components,
    )
    from deduplication_challenge_spark.operators.consolidate import attach_clusters, consolidate
    from deduplication_challenge_spark.operators.ingest import extract_pages
    from deduplication_challenge_spark.operators.signatures import compute_signatures
    from deduplication_challenge_spark.plans.incremental import (
        lsh_cross_candidates,
        simhash_cross_candidates,
        substring_cross_candidates,
    )
    from deduplication_challenge_spark.plans.checkpointing import stage_checkpoint

    L, span, cfg = _Layers(run), run.tracer.span, DedupConfig()
    c = L.counts
    pages = read_pages(L.spark, os.path.join(run.inputs, "index.parquet"))

    with span("ingest"):
        docs = L.save(extract_pages(pages), "docs")
    with span("signatures"):
        sigs = L.save(compute_signatures(docs, cfg), "signatures")
    c["signatures.table_mb"] = dir_mb(os.path.join(L.base, "signatures"))
    with span("lsh"):
        lsh_pairs = L.save(lsh.candidate_pairs(lsh.band_table(sigs), cfg)[0].select("src", "dst"),
                           "lsh")
    c["lsh.pairs_out"] = lsh_pairs.count()
    with span("simhash"):
        sim = L.save(simhash.hamming_pairs(sigs, cfg)[0].select("src", "dst"), "simhash")
    c["simhash.pairs_out"] = sim.count()
    with span("suffixarray"):
        # as the candidates stage does: the pairs are derived from the
        # checkpointed anchor frame, which is also written as a side output
        anchors = stage_checkpoint(suffixarray.anchor_table(docs, cfg), cfg)
        anchors.write.parquet(os.path.join(L.base, "anchors"))
        sub = L.save(suffixarray.substring_pairs_from_anchors(anchors, cfg).select("src", "dst"),
                     "substring")
    c["suffixarray.anchors_out"] = L.spark.read.parquet(os.path.join(L.base, "anchors")).count()
    c["suffixarray.pairs_out"] = sub.count()
    with span("verify"):
        verified = L.save(verify.verify_pairs(lsh_pairs, sigs, cfg).select("src", "dst"),
                          "verified")
    c["verify.pairs_in"] = c["lsh.pairs_out"]
    c["verify.accept_ratio"] = verified.count() / max(1, c["verify.pairs_in"])
    with span("edges"):  # the union the pipeline's verify stage writes
        edges = L.save(verified.unionByName(sim).unionByName(sub).distinct(), "edges")
    c["connected_components.edges_in"] = edges.count()
    with span("connected_components"):
        # as the cc stage does: coalesce the edge table to the fewest tasks
        # that keep the kernel's per-task edge bound
        k = max(1, math.ceil(c["connected_components.edges_in"] / SINGLE_TASK_EDGE_LIMIT))
        if k < edges.rdd.getNumPartitions():
            edges = edges.coalesce(k)
        assignments = L.save(
            connected_components(edges, checkpoint_mode=cfg.checkpoint_mode), "cc")
    c["connected_components.nodes_out"] = assignments.count()
    with span("consolidate"):
        canonical = L.save(consolidate(attach_clusters(docs, assignments), cfg.min_group_size),
                           "canonical")
    c["consolidate.clusters_out"] = canonical.where(F.col("n_members") >= 2).count()

    # the attach path's cross-candidate functions, against the round's index
    index = rnd["index_dir"]
    with span("incremental.batch_prep"):
        docs_new = L.save(extract_pages(read_pages(
            L.spark, os.path.join(run.inputs, "batch.parquet"))), "batch_docs")
        sigs_new = L.save(compute_signatures(docs_new, cfg), "batch_signatures")
    new_ids = sigs_new.select("doc_id")
    sigs_old = L.spark.read.parquet(os.path.join(index, "signatures")).join(
        new_ids, "doc_id", "left_anti")
    with span("incremental.cross_lsh"):
        cross = lsh_cross_candidates(lsh.band_table(sigs_new), lsh.band_table(sigs_old))
        L.save(verify.verify_pairs(cross, sigs_new.unionByName(sigs_old), cfg)
               .select("src", "dst"), "cross_lsh")
    with span("incremental.cross_simhash"):
        L.save(simhash_cross_candidates(
            simhash.simhash_chunk_table(sigs_new, cfg),
            simhash.simhash_chunk_table(sigs_old, cfg), cfg.hamming_k), "cross_simhash")
    with span("incremental.cross_substring"):
        anchors_old = L.spark.read.parquet(os.path.join(index, "anchors")).join(
            docs_new.select("doc_id"), "doc_id", "left_anti")
        L.save(substring_cross_candidates(
            suffixarray.anchor_table(docs_new, cfg), anchors_old, cfg), "cross_substring")
    c["incremental.cross_pairs"] = rnd["attach_report"]["cross_pairs_verified"]
    c["incremental.attached_docs"] = rnd["attach_report"]["attached_docs"]
    rnd["layer_counts"] = c


def _replay_products(run, rnd: dict) -> None:
    from pyspark.sql import functions as F

    from deduplication_challenge_spark.operators.product_merge import (
        attach_group_meta,
        global_frequencies,
    )
    from deduplication_challenge_spark.sources.pages import read_documents
    from deduplication_challenge_spark.sources.products import (
        MERGE_BY_LEAST_FREQUENT,
        MERGE_BY_MOST_FREQUENT,
        products_from_documents,
    )

    L, span = _Layers(run), run.tracer.span
    products = products_from_documents(read_documents(L.spark, run.inputs))
    with span("product_merge.group_meta"):
        L.save(attach_group_meta(products), "group_meta")
    with span("product_merge.frequencies"):
        for f in MERGE_BY_MOST_FREQUENT + MERGE_BY_LEAST_FREQUENT:
            L.save(global_frequencies(products, f), f"freq_{f}")
    out = L.spark.read.parquet(rnd["out_dir"])
    L.counts["product_merge.groups_out"] = out.where(F.col("group_size") >= 2).count()
    L.counts["product_merge.records_out"] = out.count()
    rnd["layer_counts"] = L.counts


def per_layer(workload: str, tracer, rnd: dict, setup_s: float) -> dict:
    """-> {metric: (value, unit)} for every PER_LAYER metric."""
    v = dict.fromkeys(PER_LAYER, 0.0)
    v.update(rnd["layer_counts"])
    v["session.build_s"] = setup_s
    ops = [name for name, _ in rnd["ops"]]
    if workload == "crawl_full":
        for layer in ("ingest", "signatures", "lsh", "simhash", "suffixarray", "verify",
                      "connected_components", "consolidate"):
            v[f"{layer}.s"] = tracer.seconds(layer)
        for layer in ("lsh", "simhash", "suffixarray", "verify", "consolidate"):
            v[f"{layer}.shuffle_write_mb"] = tracer.shuffle_mb(layer)
        for st in STAGES:
            v[f"pipeline.{st}.s"] = rnd["report"].stages[st].seconds
        v["incremental.s"] = tracer.seconds("incremental")
        for x in ("lsh", "simhash", "substring"):
            v[f"incremental.cross_{x}_s"] = tracer.seconds(f"incremental.cross_{x}")
    else:
        v["product_merge.group_meta_s"] = tracer.seconds("product_merge.group_meta")
        v["product_merge.frequencies_s"] = tracer.seconds("product_merge.frequencies")
        v["product_merge.s"] = tracer.seconds("product_merge")
        v["product_merge.shuffle_write_mb"] = tracer.shuffle_mb("product_merge")
    spark_ops = [tracer.find(op) for op in ops]
    n = len(spark_ops)
    v["spark.jobs_per_op"] = sum(s["n_jobs"] for s in spark_ops) / n
    v["spark.tasks_per_op"] = sum(s["spark"]["tasks"] for s in spark_ops) / n
    v["spark.shuffle_write_mb"] = sum(s["spark"]["shuffle_write_bytes"] for s in spark_ops) / n / _MB
    v["spark.spill_mb"] = sum(s["spark"]["spill_bytes"] for s in spark_ops) / n / _MB
    return {k: (v[k], PER_LAYER[k]) for k in PER_LAYER}
