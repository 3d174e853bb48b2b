"""Production runner: the whole KG-construction job with per-stage
checkpoints, lineage, metrics, and resume — what `spark-submit --py-files`
launches on a cluster (scripts/run_pipeline.py is the CLI wrapper).

Stage graph (each stage = one checkpointed parquet table + lineage rows;
a rerun reprocesses only buckets without lineage):

    transcripts ─► triples (fused extract + inline link)  [ckpt: triples]
        ├────────► entity_nodes (connected components)    [ckpt: entity_nodes]
        ├────────► graph_edges (canonical entity pairs)   [ckpt: graph_edges]
        └────────► metrics (violation counters c1-c4 +    [ckpt: metrics]
                   per-stage row counts)

The tail after the triples stage collects the dictionary-bounded entity
edge set once; connected components and canonical ids are solved on the
driver from that collect, so ``entity_nodes`` is written from rows the
driver already holds (no second pass over the triples). The canonical
rewrite of the triples' entity ids applies only ids that differ from
their canonical id, and is skipped when none do.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..canonicalize import canonicalize
from ..extract.fused import fused_extract_stage
from ..extract.mentions import detect_mentions
from ..linking import (
    dictionary_surfaces,
    link_mentions,
    link_triples_inline,
    violation_counters,
)
from .checkpoint import CheckpointManager
from .metrics import FUSED_COUNTERS, StageCounters


@dataclass
class ProductionResult:
    triples: DataFrame
    entity_nodes: DataFrame
    graph_edges: DataFrame
    metrics: DataFrame
    buckets_processed: int
    buckets_skipped: int


def run_production(
    spark: SparkSession,
    transcripts: DataFrame,
    alias: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    partitions: int | None = None,
    link_mode: str = "inline",
    n_salt: int = 16,
) -> ProductionResult:
    """``link_mode``: 'inline' (broadcast-regime map literal, default) or
    'salted' (dictionary too big to broadcast: modular mention stage +
    salted shuffle join — the hot-entity skew path)."""
    mgr = CheckpointManager(spark, out_dir, n_buckets=n_buckets)
    counters = StageCounters(spark, "fused_extract", FUSED_COUNTERS)
    # the driver-side surface collect happens ONLY on the inline
    # (broadcast-regime) path — salted mode exists precisely because the
    # dictionary is too big to collect/broadcast
    surfaces = None if link_mode == "salted" else dictionary_surfaces(alias)

    def extract(pending: DataFrame) -> DataFrame:
        if link_mode == "salted":
            from ..linking import link_mentions_salted, link_triples
            from ..plans.pipeline import extract_triples

            res = extract_triples(pending, partitions=partitions)
            linked_m = link_mentions_salted(
                detect_mentions(res.triples), alias, n_salt=n_salt
            )
            return link_triples(res.triples, linked_m)
        return link_triples_inline(
            fused_extract_stage(
                pending, surfaces, partitions=partitions, counters=counters
            ),
            alias,
        )

    run = mgr.run_stage("triples", transcripts, extract)
    triples = run.output

    # canonicalization runs over the full (checkpointed) triples table; its
    # edge set is dictionary-bounded, so it is NOT bucket-checkpointed —
    # it's a cheap global fixpoint re-run on resume.
    mentions = detect_mentions(triples)
    linked_mentions = link_mentions(mentions, alias)
    entity_nodes, _ = canonicalize(triples, linked_mentions)
    entity_path = os.path.join(out_dir, "entity_nodes")
    nodes_local = entity_nodes.isLocal()
    if not nodes_local:
        # star-loop components: write them now and read back what was
        # written instead of re-running the fixpoint
        entity_nodes.write.mode("overwrite").parquet(entity_path)
        entity_nodes = spark.read.parquet(entity_path)

    # rewrite triple args to canonical cluster ids: KB entity id → its
    # cluster's canonical id. Only ids that change are rewritten; linking
    # sends each surface to one entity, so every component is a star around
    # one KB node and the map is usually empty — then the triples plan is
    # left untouched.
    kb_to_canon = {
        r.member[2:]: r.canonical_id
        for r in entity_nodes.where(F.col("is_kb_entity"))
        .select("member", "canonical_id")
        .collect()  # driver-held rows: no job when nodes_local
        if r.member[2:] != r.canonical_id
    }
    if kb_to_canon:
        # dictionary-bounded → map literal (same regime as the link stage);
        # also keeps the returned plan independent of the entity_nodes
        # files, which the next resume run overwrites
        entries: list = []
        for k, v in sorted(kb_to_canon.items()):
            entries += [F.lit(k), F.lit(v)]
        cmap = F.create_map(*entries)
        triples = triples.withColumn(
            "arg1_entity_id",
            F.coalesce(
                F.try_element_at(cmap, F.col("arg1_entity_id")),
                F.col("arg1_entity_id"),
            ),
        ).withColumn(
            "arg2_entity_id",
            F.coalesce(
                F.try_element_at(cmap, F.col("arg2_entity_id")),
                F.col("arg2_entity_id"),
            ),
        )

    # graph materialization: the aggregated weighted edge table over the
    # CANONICAL entity ids (one row per entity pair + predicate) — cheap
    # re-derivation on resume, same policy as entity_nodes
    from ..canonicalize import materialize_graph

    graph_path = os.path.join(out_dir, "graph_edges")
    metrics_path = os.path.join(out_dir, "metrics")
    violations = violation_counters(triples, alias).withColumn(
        "stage", F.lit("link")
    )

    # The tail writes only READ the (checkpointed) triples table or rows the
    # driver holds, and are independent of each other: submit them from a
    # small thread pool so the later jobs' tasks back-fill executors idled
    # by the earlier jobs' stragglers (guide §2.6 overlap; job
    # order/results unchanged).
    def _write_entities() -> None:
        if nodes_local:  # else written above
            entity_nodes.write.mode("overwrite").parquet(entity_path)

    graph = materialize_graph(triples)

    def _write_graph() -> None:
        graph.write.mode("overwrite").parquet(graph_path)

    def _write_metrics() -> None:
        violations.write.mode("overwrite").parquet(metrics_path)

    def _write_counters() -> None:
        # stage counters (accumulators filled while the extract stage ran).
        # Write ONLY when the fused stage actually executed this run: a
        # fully resumed run (every bucket skipped) and the salted path
        # (which never touches these accumulators) would otherwise
        # overwrite the previous run's real counters with zeros.
        if link_mode != "salted" and run.buckets_processed > 0:
            counters.to_df(spark).write.mode("overwrite").parquet(
                os.path.join(out_dir, "stage_counters")
            )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [
            pool.submit(f)
            for f in (_write_graph, _write_metrics, _write_entities, _write_counters)
        ]
        for fut in futures:
            fut.result()  # surface the first failure, if any

    # the schemas are known: reading with them skips a footer-inference job
    # per table
    return ProductionResult(
        triples=triples,
        entity_nodes=spark.read.schema(entity_nodes.schema).parquet(entity_path),
        graph_edges=spark.read.schema(graph.schema).parquet(graph_path),
        metrics=spark.read.schema(violations.schema).parquet(metrics_path),
        buckets_processed=run.buckets_processed,
        buckets_skipped=run.buckets_skipped,
    )
