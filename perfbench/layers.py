"""Per-layer metrics for the traced run.

``install`` wraps the package's public functions at each layer boundary.
``per_layer`` turns the spans of the last timed cycle and the Spark status
store into the per-layer metrics, then runs the graph layer's operations
on the graph the cycle built (traced runs only) and gates their outputs
against plain-Python references. README.md lists which end-to-end metric
each per-layer metric should move.
"""

from __future__ import annotations

import random
import shutil
import time
from collections import defaultdict
from pathlib import Path

from spans import StatusStore, Tracer, engine_summary, in_window

UNITS = {
    "sources.scan_bytes": "bytes",
    "extract.busy_s": "s",
    "extract.cpu_s": "s",
    "extract.busy_share": "ratio",
    "extract.turns_in": "count",
    "extract.sentences_in": "count",
    "extract.extractions_out": "count",
    "extract.distinct_sentence_share": "ratio",
    "extract.oracle_turns_per_s": "turns/s",
    "linking.driver_s": "s",
    "linking.shuffle_bytes": "bytes",
    "linking.task_skew": "ratio",
    "linking.hot_surface_share": "ratio",
    "checkpoint.write_s": "s",
    "checkpoint.output_bytes": "bytes",
    "checkpoint.buckets_processed": "count",
    "checkpoint.buckets_skipped": "count",
    "checkpoint.jobs": "count",
    "production.tail_s": "s",
    "production.tail_jobs": "count",
    "canonicalize.cc_s": "s",
    "canonicalize.cc_jobs": "count",
    "canonicalize.edges_in": "count",
    "canonicalize.materialize_s": "s",
    "canonicalize.merge_shuffle_bytes": "bytes",
    "graph.pagerank_s": "s",
    "graph.lpa_s": "s",
    "graph.triangles_s": "s",
    "graph.khop_jobs_per_query": "count",
    "graph.khop_busy_ms": "ms",
    "graph.shuffle_bytes": "bytes",
    "graph.max_degree": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.driver_only_s": "s",
    "host.peak_rss_mb": "MB",
    "host.steal_ratio": "ratio",
    "trace.build_turns_per_s": "turns/s",
    "trace.resume_s": "s",
}

_LINK_SPANS = (
    "linking.dictionary_surfaces", "linking.link_triples_inline",
    "linking.link_mentions_salted", "linking.link_triples",
)


def install() -> Tracer:
    """Wrap the layer entry points the production run calls."""
    from openie_with_entities_spark import canonicalize, linking
    from openie_with_entities_spark.plans import checkpoint, pipeline, production

    t = Tracer()
    t.wrap(checkpoint.CheckpointManager, "run_stage", "checkpoint.run_stage")
    t.wrap(production, "fused_extract_stage", "extract.fused_extract_stage")
    t.wrap(pipeline, "extract_triples", "extract.extract_triples")
    t.wrap(production, "detect_mentions", "extract.detect_mentions")
    t.wrap(production, "dictionary_surfaces", "linking.dictionary_surfaces")
    t.wrap(production, "link_triples_inline", "linking.link_triples_inline")
    t.wrap(linking, "link_mentions_salted", "linking.link_mentions_salted")
    t.wrap(linking, "link_triples", "linking.link_triples")
    t.wrap(production, "canonicalize", "canonicalize.canonicalize")
    t.wrap(canonicalize, "connected_components", "canonicalize.connected_components")
    return t


def _union_find(edges) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _bfs(adj: dict[str, set], seed: str, k: int) -> set[tuple[str, int]]:
    hop = {seed: 0}
    frontier = [seed]
    for h in range(1, k + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in hop:
                    hop[v] = h
                    nxt.append(v)
        frontier = nxt
    return set(hop.items())


def graph_ops(run, graph_edges, triples) -> dict:
    """Materialize, merge, components, analytics and k-hop queries on the
    built graph, each gated against a Python reference."""
    from openie_with_entities_spark import graph as G
    from openie_with_entities_spark.canonicalize import (
        connected_components, materialize_graph, merge_graph_edges,
    )
    from pyspark.sql import functions as F

    tr, spark = run.tracer, run.spark
    rows = graph_edges.collect()
    adj: dict[str, set] = defaultdict(set)
    for r in rows:
        if r.src_entity != r.dst_entity:
            adj[r.src_entity].add(r.dst_entity)
            adj[r.dst_entity].add(r.src_entity)
    spans = {}

    def timed(name, fn):
        with tr.span(name) as s:
            out = fn()
        spans.setdefault(name, []).append(s)
        return out

    timed("canonicalize.materialize_graph",
          lambda: materialize_graph(triples).write.mode("overwrite").format("noop").save())

    rng = random.Random(f"delta:{run.seed}")
    delta_rows = rng.sample(rows, max(1, len(rows) // 100))
    delta = spark.createDataFrame(delta_rows, graph_edges.schema)
    merged_path = str(run.work / "merged")
    timed("canonicalize.merge_graph_edges",
          lambda: merge_graph_edges(graph_edges, delta).write.mode("overwrite").parquet(merged_path))
    want = sum(r.n_mentions for r in rows) + sum(r.n_mentions for r in delta_rows)
    got = spark.read.parquet(merged_path).agg(F.sum("n_mentions")).collect()[0][0]
    run.gate("merge_n_mentions", got == want, f"merged total {got}, base+delta {want}")

    comps = timed("graph.connected_components", lambda: connected_components(
        graph_edges.select(F.col("src_entity").alias("src"), F.col("dst_entity").alias("dst"))
    ).collect())
    ref = _union_find((r.src_entity, r.dst_entity) for r in rows)
    got_c = {r.node: r.component for r in comps}
    run.gate("components_union_find", got_c == ref, f"{len(set(ref.values()))} components, {len(ref)} nodes")

    noop = lambda df: df.write.mode("overwrite").format("noop").save()  # noqa: E731
    timed("graph.pagerank", lambda: noop(G.pagerank(graph_edges, 3)))
    timed("graph.label_propagation", lambda: noop(G.label_propagation(graph_edges, 3)))
    timed("graph.triangle_counts", lambda: noop(G.triangle_counts(graph_edges)))

    by_degree = sorted(adj, key=lambda n: (-len(adj[n]), n))
    tail = by_degree[len(by_degree) // 2:]
    seeds = [by_degree[0]] + random.Random(f"khop:{run.seed}").sample(tail, min(3, len(tail)))
    for seed in seeds:
        got_k = timed("graph.khop_neighborhood",
                      lambda: G.khop_neighborhood(graph_edges, [seed], k=2).collect())
        run.gate(f"khop_bfs_{seed}", {(r.entity, r.hop) for r in got_k} == _bfs(adj, seed, 2),
                 f"{len(got_k)} nodes within 2 hops")
    return {"spans": spans, "max_degree": len(adj[by_degree[0]]) if by_degree else 0}


def crash(run, out_dir: Path) -> None:
    """Delete the data directories and lineage rows of half the buckets."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = run.n_buckets
    lost = sorted(random.Random(f"crash:{run.seed}").sample(range(n), n // 2))
    for b in lost:
        shutil.rmtree(out_dir / "triples" / "data" / f"_bucket={b}")
    lineage = out_dir / "triples" / "lineage"
    table = pq.read_table(lineage)
    lost_set = pa.array(lost, table["bucket"].type)
    kept = table.filter(pc.invert(pc.is_in(table["bucket"], value_set=lost_set)))
    shutil.rmtree(lineage)
    lineage.mkdir()
    pq.write_table(kept, lineage / "part-00000.parquet")


def resume(run, fresh, transcripts, alias, out_dir: Path):
    """Crash half the buckets of the last fresh build, rerun, and gate the
    rerun's tables against the fresh ones."""
    from gates import digest

    want = {"triples": digest(fresh.triples), "graph_edges": digest(fresh.graph_edges)}
    crash(run, out_dir)
    res, resume_s = run.run_production(transcripts, alias, out_dir, "resume")
    run.gate("resume_buckets", (res.buckets_processed, res.buckets_skipped) == (run.n_buckets // 2,) * 2,
             f"processed={res.buckets_processed} skipped={res.buckets_skipped}")
    for name, ref in want.items():
        got = digest(getattr(res, name))
        run.gate(f"resume_digest_{name}", got == ref, f"fresh={ref} resumed={got}")
    return res, resume_s, want["triples"][0]


def per_layer(run, fresh, transcripts, alias, out_dir: Path, meta: dict, t_start: float, t_end: float) -> dict:
    from openie_with_entities_spark.oracle import reference_triples

    counters = None
    if run.link_mode == "inline":
        counters = {r.metric: r.value for r in run.spark.read.parquet(str(out_dir / "stage_counters")).collect()}
    res, resume_s, fresh_rows = resume(run, fresh, transcripts, alias, out_dir)

    tr, cores = run.tracer, run.cores
    store = StatusStore(run.spark)
    stages, jobs = store.stages(), store.jobs()
    build, resume_span = tr.find("build")[-1], tr.find("resume")[-1]
    rs_b = tr.find("checkpoint.run_stage", build)[0]
    rs_r = tr.find("checkpoint.run_stage", resume_span)[0]
    ext = in_window(stages, rs_b.start, rs_b.end)
    m: dict[str, float] = {}

    m["sources.scan_bytes"] = sum(s.input_bytes for s in ext)

    m["extract.busy_s"] = sum(s.run_s for s in ext)
    m["extract.cpu_s"] = sum(s.cpu_s for s in ext)
    m["extract.busy_share"] = m["extract.busy_s"] / (rs_b.dur * cores)
    counters = counters or {
        "turns_in": meta["n_nonempty_turns"],
        "sentences_in": meta["n_sentences"],
        "extractions_out": fresh_rows,
    }
    for k in ("turns_in", "sentences_in", "extractions_out"):
        m[f"extract.{k}"] = counters[k]
    m["extract.distinct_sentence_share"] = meta["distinct_sentence_share"]
    sample = [tuple(t) for t in meta["sample_turns"]]
    t0 = time.perf_counter()
    reference_triples(sample)
    m["extract.oracle_turns_per_s"] = len(sample) / (time.perf_counter() - t0)

    m["linking.driver_s"] = sum(s.dur for n in _LINK_SPANS for s in tr.find(n, build))
    m["linking.shuffle_bytes"] = sum(s.shuffle_write_bytes for s in ext)
    heaviest = max(ext, key=lambda s: (s.shuffle_read_bytes, s.run_s))
    m["linking.task_skew"] = store.task_skew(heaviest)
    m["linking.hot_surface_share"] = meta["hot_surface_share"]

    rs = (rs_b, rs_r)
    m["checkpoint.write_s"] = sum(tr.self_time(s) for s in rs)
    m["checkpoint.output_bytes"] = sum(x.output_bytes for s in rs for x in in_window(stages, s.start, s.end))
    m["checkpoint.buckets_processed"] = sum(s.attrs["result"].buckets_processed for s in rs)
    m["checkpoint.buckets_skipped"] = sum(s.attrs["result"].buckets_skipped for s in rs)
    m["checkpoint.jobs"] = sum(len(in_window(jobs, s.start, s.end)) for s in rs)

    m["production.tail_s"] = resume_span.end - rs_r.end
    m["production.tail_jobs"] = len(in_window(jobs, rs_r.end, resume_span.end))

    cc = tr.find("canonicalize.connected_components", resume_span)[0]
    m["canonicalize.cc_s"] = cc.dur
    m["canonicalize.cc_jobs"] = len(in_window(jobs, cc.start, cc.end))
    m["canonicalize.edges_in"] = cc.attrs["args"][0].count()

    m.update(engine_summary(stages, jobs, t_start, t_end))
    m["trace.build_turns_per_s"] = run.metrics["build_turns_per_s"]
    m["trace.resume_s"] = resume_s

    g = graph_ops(run, res.graph_edges, res.triples)
    stages, jobs = store.stages(), store.jobs()
    sp = g["spans"]

    def window(name):
        return [x for s in sp[name] for x in in_window(stages, s.start, s.end)]

    m["canonicalize.materialize_s"] = sp["canonicalize.materialize_graph"][0].dur
    m["canonicalize.merge_shuffle_bytes"] = sum(
        x.shuffle_write_bytes for x in window("canonicalize.merge_graph_edges"))
    m["graph.pagerank_s"] = sp["graph.pagerank"][0].dur
    m["graph.lpa_s"] = sp["graph.label_propagation"][0].dur
    m["graph.triangles_s"] = sp["graph.triangle_counts"][0].dur
    khops = sp["graph.khop_neighborhood"]
    m["graph.khop_jobs_per_query"] = sum(len(in_window(jobs, s.start, s.end)) for s in khops) / len(khops)
    m["graph.khop_busy_ms"] = 1000 * sum(x.run_s for x in window("graph.khop_neighborhood")) / len(khops)
    m["graph.shuffle_bytes"] = sum(
        x.shuffle_write_bytes
        for n in ("graph.pagerank", "graph.label_propagation", "graph.triangle_counts",
                  "graph.khop_neighborhood")
        for x in window(n)
    )
    m["graph.max_degree"] = g["max_degree"]
    return m

