"""Canonicalization: cluster coreferent argument surfaces with connected
components over a similarity edge DataFrame, then materialize the
entity-node table and rewrite triple arguments to canonical ids.

The reference's closest behavior is string-equality clustering of
extractions (/root/reference/model.py:595-599) plus alias snapping
(/root/reference/scripts/baselines.py:50-88); at 10^12 turns this becomes a
graph problem: surfaces linking to the same KB entity, or normalizing to the
same string, are one node cluster.

``connected_components`` is the alternating large-star/small-star algorithm
(Kiveris et al.) as iterative DataFrame joins:

  * large-star hangs every larger neighbor off the neighborhood minimum,
    small-star re-roots each ≤-neighborhood — components collapse to stars
    in O(log²(diameter)) rounds (NOT O(diameter): plain min-propagation was
    the first implementation here and failed a 40-hop chain; see git log);
  * ``localCheckpoint`` truncates the lineage each round (without it the
    plan doubles per iteration and the driver OOMs long before 100 TB);
  * convergence is a cheap (count, hash-sum) checksum of the edge set.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node u: attach each strictly-larger neighbor to
    min(Γ(u) ∪ {u})."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("mn")
    )
    return (
        sym.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge big→small; attach each node and its ≤-neighbors to
    the minimum of that neighborhood."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("mn"))
    joined = oriented.join(m, "u")
    as_v = joined.select(F.col("v").alias("src"), F.col("mn").alias("dst"))
    as_u = joined.select(F.col("u").alias("src"), F.col("mn").alias("dst"))
    return (
        as_v.union(as_u)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _edge_checksum(edges: DataFrame):
    row = edges.agg(
        F.count("*").alias("n"),
        # decimal sum: long would overflow under ANSI mode
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row.n, row.h)


def _driver_components(edge_rows) -> list[tuple[str, str]]:
    """Union-find over a COLLECTED edge list; union-by-min-root, so each
    final root is the lexicographic minimum of its component — the same
    semantics the distributed path produces. Every endpoint becomes a
    node, so a node whose only edges are self-loops is its own component
    (and a null endpoint is a null node, as on the distributed path)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for src, dst in edge_rows:
        parent.setdefault(src, src)
        parent.setdefault(dst, dst)
        if src is None or dst is None:
            continue
        ra, rb = find(src), find(dst)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(n, find(n)) for n in parent]


def _local_frame(spark, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame over rows the driver holds. Built through Arrow it is a
    LocalRelation: ``isLocal()`` is true, ``collect()`` runs no job, and
    writing it runs no Python worker (a frame built from the list is a
    Python RDD, about 3x slower to write)."""
    struct = StructType.fromDDL(schema)
    columns = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.table({f.name: pa.array(c) for f, c in zip(struct.fields, columns)})
    return spark.createDataFrame(table, struct)


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = 65536
) -> DataFrame:
    """edges(src string, dst string) → (node string, component string),
    component = lexicographic min node id in the component.

    Adaptive, like Spark's own broadcast-vs-shuffle join choice: an edge
    set of at most ``driver_threshold`` distinct rows (self-loops count;
    the dictionary-bounded graphs this engine builds — gazetteer aliases ×
    linked surfaces) is collected and solved with union-find in one driver
    pass, because a distributed fixpoint on a tiny graph is pure
    scheduling overhead (measured 4-7s for 8 edges vs <1s). The node table
    comes from that same collect, so the result is a local DataFrame
    (``isLocal()``) that no longer references ``edges``: reading it never
    re-runs the edge pipeline. Larger graphs run the alternating
    large-star/small-star loop (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): converges in O(log²) rounds of the component
    diameter — a 40-hop chain collapses in ~6 rounds where plain
    neighbor-min propagation needs 40 (measured; that was the first
    implementation here). ``localCheckpoint`` truncates lineage each round;
    convergence = unchanged (count, hash-sum) edge checksum."""
    spark = edges.sparkSession
    e_all = edges.select("src", "dst").distinct()
    # ONE job decides the path and feeds the fast path: collect at most
    # threshold+1 rows — if the limit wasn't hit we already hold the whole
    # edge set (a separate count() would re-run the distinct shuffle), and
    # with self-loops kept in it, every node too
    probe = e_all.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        return _local_frame(
            spark, _driver_components(probe), "node string, component string"
        )
    e0 = e_all.where(F.col("src") != F.col("dst"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = e0.localCheckpoint()
    prev = _edge_checksum(e)
    # TWO star rounds per driver cycle: each cycle = one localCheckpoint +
    # one checksum action, halving driver round-trips per star round (the
    # fixpoint loop's cost on small graphs is driver actions, not compute;
    # worst case is one extra pair of cheap star ops after convergence).
    # Convergence check stays sound: a non-converged edge set strictly
    # changes every star round (the star potential decreases monotonically),
    # so equal checksums two rounds apart only happen at the fixpoint.
    for _ in range((max_iter + 1) // 2):
        e = _small_star(_large_star(e))
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur
    # converged edge set is a forest of stars (node → root)
    roots = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return nodes.join(roots, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def build_entity_edges(linked_mentions: DataFrame) -> DataFrame:
    """Similarity edges between surface nodes and KB-entity nodes:
      * surface ↔ entity_id from the alias link (aliases of one entity
        become one component through the kb: node)
      * exact normalized-surface equality is the node identity itself."""
    return linked_mentions.select(
        F.concat(F.lit("s:"), "surface_norm").alias("src"),
        F.concat(F.lit("e:"), "entity_id").alias("dst"),
    ).distinct()


def materialize_graph(linked_triples: DataFrame) -> DataFrame:
    """Final KG edge materialization (the north rule's 'graph
    materialize' stage): collapse the linked triple stream into ONE
    weighted edge per (subject entity, normalized predicate, object
    entity) — the deduplicated graph table a consumer queries, vs the
    per-sentence evidence table the pipeline emits.

    Predicate normalization reuses the P15 semantics
    (operators/dedup.predicate_frequency — unicode \\w, reference
    scripts/pubmed_analysis.py:22-31). Only fully-linked triples (both
    entity ids resolved) become edges; the rest stay queryable in the
    evidence table. Aggregates: mention count, distinct-conversation
    count (corpus-level support), best-witness confidence. One
    map-combinable aggregate; shuffle keys are (entity, predicate,
    entity), never sentence text — at 10^12 turns the output is
    entity-pair-bounded, orders of magnitude smaller than its input."""
    from .operators.dedup import normalize_predicate

    norm = normalize_predicate("rel")
    return (
        linked_triples.where(
            F.col("arg1_entity_id").isNotNull()
            & F.col("arg2_entity_id").isNotNull()
        )
        .groupBy(
            F.col("arg1_entity_id").alias("src_entity"),
            norm.alias("predicate"),
            F.col("arg2_entity_id").alias("dst_entity"),
        )
        .agg(
            F.count("*").alias("n_mentions"),
            F.count_distinct("conv_id").alias("n_convs"),
            F.round(F.max("confidence"), 4).alias("max_confidence"),
        )
    )


def merge_graph_edges(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental KG maintenance: fold a new batch's edge table (the
    output of :func:`materialize_graph` over freshly linked triples) into
    an existing ``graph_edges`` table WITHOUT rebuilding from the full
    evidence corpus — the operational path for a streaming/append-only
    deployment where the historical triple table is petabyte-scale but
    each delta is small.

    Merge semantics per (src_entity, predicate, dst_entity):
      * ``n_mentions``      — sums (every mention is new evidence),
      * ``max_confidence``  — maxes (best witness overall),
      * ``n_convs``         — sums, which is exact ONLY when the delta's
        conversations are disjoint from the existing table's. That is the
        invariant of the engine's streaming ingest (dropDuplicates on
        (conv_id, turn_idx) within the watermark + the reconcile pass for
        replays); feeding overlapping conversation batches would
        double-count corpus support. Exact n_convs under overlap requires
        re-aggregating the touched keys from the evidence table — at that
        point run :func:`materialize_graph` over the union instead.

    One shuffle keyed on the entity-pair-bounded edge key; map-combinable
    everywhere. The common case (delta ≪ existing) broadcasts nothing and
    touches every existing partition once — at 100 TB pair this with a
    storage layer that supports MERGE (Iceberg/Delta) keyed the same way."""
    both = existing.unionByName(delta)
    return both.groupBy("src_entity", "predicate", "dst_entity").agg(
        F.sum("n_mentions").alias("n_mentions"),
        F.sum("n_convs").alias("n_convs"),
        F.round(F.max("max_confidence"), 4).alias("max_confidence"),
    )


def _entity_node_rows(comp_rows) -> list[tuple]:
    """(node, component) rows → (canonical_id, member, is_kb_entity): the
    canonical id is the smallest KB entity id (``e:`` prefix stripped) in
    the component, else the component id itself, which is already its
    smallest member."""
    kb_min: dict[str, str] = {}
    for node, comp in comp_rows:
        if node is not None and node.startswith("e:"):
            kb = node[2:]
            if comp not in kb_min or kb < kb_min[comp]:
                kb_min[comp] = kb
    return [
        (
            kb_min.get(comp, comp),
            node,
            None if node is None else node.startswith("e:"),
        )
        for node, comp in comp_rows
    ]


def _entity_nodes_distributed(comps: DataFrame) -> DataFrame:
    """:func:`_entity_node_rows` as a groupBy + join, for components too
    many to hold on the driver."""
    # canonical id per component: the smallest KB entity id if present
    canon = comps.groupBy("component").agg(
        F.min(F.when(F.col("node").startswith("e:"), F.expr("substring(node, 3)"))).alias(
            "canonical_id"
        ),
        F.min("node").alias("_fallback"),
    ).select(
        "component",
        F.coalesce("canonical_id", "_fallback").alias("canonical_id"),
    )
    return comps.join(canon, "component").select(
        "canonical_id",
        F.col("node").alias("member"),
        F.col("node").startswith("e:").alias("is_kb_entity"),
    )


def canonicalize(
    triples: DataFrame, linked_mentions: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, DataFrame]:
    """→ (entity_nodes, triples with canonical arg entity ids).

    entity_nodes: one row per cluster member with its canonical cluster id
    (min KB entity id in the component, falling back to min member). When
    the components come back driver-local (the dictionary-bounded case),
    the ids are computed in Python and entity_nodes is a local DataFrame
    too; otherwise it is a distributed groupBy + join over the components.
    The triples are returned lazily.
    """
    edges = build_entity_edges(linked_mentions)
    comps = connected_components(edges, max_iter)

    if comps.isLocal():
        entity_nodes = _local_frame(
            comps.sparkSession,
            _entity_node_rows(comps.collect()),
            "canonical_id string, member string, is_kb_entity boolean",
        )
    else:
        entity_nodes = _entity_nodes_distributed(comps)

    # mention surface → canonical id (broadcastable: bounded by dictionary
    # + distinct linked surfaces, tiny next to the triples table)
    surface_to_canon = (
        entity_nodes.where(~F.col("is_kb_entity"))
        .select(
            F.expr("substring(member, 3)").alias("surface_norm"),
            "canonical_id",
        )
        .dropDuplicates(["surface_norm"])
    )

    key = ["conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx"]
    first_mention = (
        linked_mentions.groupBy(*key, "arg_pos")
        .agg(F.min_by("surface_norm", "begin_word").alias("surface_norm"))
        .join(F.broadcast(surface_to_canon), "surface_norm", "left")
    )
    a1 = first_mention.where("arg_pos = 1").select(
        *key, F.col("canonical_id").alias("arg1_entity_id")
    )
    a2 = first_mention.where("arg_pos = 2").select(
        *key, F.col("canonical_id").alias("arg2_entity_id")
    )
    canon_triples = triples.join(a1, key, "left").join(a2, key, "left")
    return entity_nodes, canon_triples
