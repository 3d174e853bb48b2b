"""End-to-end production runner: checkpointed stages + resume semantics."""

from pyspark.sql import functions as F

from openie_with_entities_spark.corpus import alias_dict, generate_transcripts
from openie_with_entities_spark.plans.production import run_production


def test_production_run_and_resume(spark, tmp_path):
    out = str(tmp_path / "kg")
    t = generate_transcripts(spark, 30).cache()
    t.count()
    alias = alias_dict(spark)

    r1 = run_production(spark, t, alias, out, n_buckets=8)
    n_triples = r1.triples.count()
    assert n_triples > 0
    assert r1.buckets_processed == 8 and r1.buckets_skipped == 0
    assert r1.entity_nodes.count() > 0
    m = r1.metrics.collect()[0]
    assert m.n_extractions == n_triples

    # linked entity ids present on triples
    linked = r1.triples.where(F.col("arg1_entity_id").isNotNull()).count()
    assert linked > 0

    # canonical rewrite: every non-null triple entity id is a canonical
    # cluster id from entity_nodes
    canon_ids = {
        r.canonical_id for r in r1.entity_nodes.select("canonical_id").collect()
    }
    used = {
        r.arg1_entity_id
        for r in r1.triples.where(F.col("arg1_entity_id").isNotNull())
        .select("arg1_entity_id")
        .distinct()
        .collect()
    }
    assert used and used <= canon_ids

    # resume: nothing recomputed, outputs identical. r1's entity_nodes /
    # graph_edges handles go stale when r2 overwrites those tables in
    # place, so their rows are read first.
    nodes1 = {tuple(r) for r in r1.entity_nodes.collect()}
    graph1 = {tuple(r) for r in r1.graph_edges.collect()}
    assert nodes1 and graph1
    r2 = run_production(spark, t, alias, out, n_buckets=8)
    assert r2.buckets_processed == 0 and r2.buckets_skipped == 8
    assert r2.triples.count() == n_triples
    assert {tuple(r) for r in r2.entity_nodes.collect()} == nodes1
    assert {tuple(r) for r in r2.graph_edges.collect()} == graph1


def test_stage_counters_written(spark, tmp_path):
    out = str(tmp_path / "kg2")
    t = generate_transcripts(spark, 15).cache()
    t.count()
    r = run_production(spark, t, alias_dict(spark), out, n_buckets=4)
    n_triples = r.triples.count()
    counters = {
        row.metric: row.value
        for row in spark.read.parquet(out + "/stage_counters").collect()
    }
    assert counters["extractions_out"] == n_triples
    assert counters["sentences_in"] > 0
    assert counters["turns_in"] > 0
    assert counters["splits_out"] >= counters["sentences_in"] - counters[
        "sentences_too_long"
    ]


def test_salted_link_mode_matches_inline(spark, tmp_path):
    t = generate_transcripts(spark, 15).cache()
    t.count()
    alias = alias_dict(spark)
    a = run_production(
        spark, t, alias, str(tmp_path / "a"), n_buckets=4, link_mode="inline"
    )
    b = run_production(
        spark, t, alias, str(tmp_path / "b"), n_buckets=4, link_mode="salted"
    )
    cols = [
        "conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx",
        "arg1", "rel", "arg2", "confidence",
        "arg1_entity_id", "arg2_entity_id",
    ]
    ra = {tuple(r[c] for c in cols) for r in a.triples.select(cols).collect()}
    rb = {tuple(r[c] for c in cols) for r in b.triples.select(cols).collect()}
    assert ra == rb and ra
    na = {tuple(r) for r in a.entity_nodes.collect()}
    nb = {tuple(r) for r in b.entity_nodes.collect()}
    assert na == nb and na


def test_cli_smoke(tmp_path):
    import subprocess
    import sys

    out = str(tmp_path / "kg")
    res = subprocess.run(
        [
            sys.executable, "scripts/run_pipeline.py",
            "--output", out, "--convs", "20", "--buckets", "4",
            "--cores", "4",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "triples=" in res.stdout


def test_resume_with_wrong_bucket_count_fails_loudly(spark, tmp_path):
    """Resuming a checkpoint with a smaller n_buckets than the run that
    wrote the lineage must raise, not silently skip unprocessed data."""
    import pytest

    from openie_with_entities_spark.plans.checkpoint import CheckpointManager

    base = str(tmp_path / "ckpt")
    mgr32 = CheckpointManager(spark, base, n_buckets=32)
    inp = spark.createDataFrame(
        [(f"c{i}", i) for i in range(50)], "conv_id string, v int"
    )
    mgr32.run_stage("s", inp, lambda df: df)
    mgr16 = CheckpointManager(spark, base, n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets=32"):
        mgr16.run_stage("s", inp, lambda df: df)


def test_resume_with_larger_bucket_count_fails_loudly(spark, tmp_path):
    """Increasing n_buckets on resume re-hashes rows into 'pending' buckets
    already materialized under the old scheme → duplicates; the bucket-
    count meta pin must reject it (the id-range check only catches a
    decrease)."""
    import pytest

    from openie_with_entities_spark.plans.checkpoint import CheckpointManager

    base = str(tmp_path / "ckpt")
    inp = spark.createDataFrame(
        [(f"c{i}", i) for i in range(50)], "conv_id string, v int"
    )
    CheckpointManager(spark, base, n_buckets=8).run_stage("s", inp, lambda df: df)
    with pytest.raises(ValueError, match="n_buckets=8"):
        CheckpointManager(spark, base, n_buckets=16).run_stage(
            "s", inp, lambda df: df
        )


def test_graph_edges_materialized(spark, tmp_path):
    """run_production writes the aggregated weighted edge table; its
    mention totals reconcile with the fully-linked triple count, and
    predicate normalization folds case/punctuation variants."""
    from openie_with_entities_spark.canonicalize import materialize_graph
    from openie_with_entities_spark.corpus import alias_dict, generate_transcripts
    from openie_with_entities_spark.plans.production import run_production
    from pyspark.sql import functions as F

    t = generate_transcripts(spark, 20)
    res = run_production(spark, t, alias_dict(spark), str(tmp_path), n_buckets=4)
    edges = res.graph_edges
    assert set(edges.columns) == {
        "src_entity", "predicate", "dst_entity",
        "n_mentions", "n_convs", "max_confidence",
    }
    linked = res.triples.where(
        "arg1_entity_id IS NOT NULL AND arg2_entity_id IS NOT NULL"
    )
    assert edges.agg(F.sum("n_mentions")).collect()[0][0] == linked.count()
    assert edges.count() <= linked.count()
    # direct-unit check of the normalization fold
    direct = materialize_graph(spark.createDataFrame(
        [("c0", 0, "E1", "founded", "E2", 0.9),
         ("c1", 0, "E1", "Founded!", "E2", 0.7)],
        "conv_id string, turn_idx int, arg1_entity_id string, rel string, "
        "arg2_entity_id string, confidence double",
    )).collect()
    assert len(direct) == 1
    assert (direct[0].n_mentions, direct[0].n_convs, direct[0].max_confidence) == (2, 2, 0.9)


def test_merge_graph_edges_incremental_equals_full(spark):
    """Folding a disjoint-conversation delta into an existing edge table
    equals materializing the graph from the unioned evidence (the merge's
    documented invariant), including predicate-normalization collapse."""
    from openie_with_entities_spark.canonicalize import (
        materialize_graph,
        merge_graph_edges,
    )

    ddl = (
        "conv_id string, turn_idx int, arg1_entity_id string, rel string, "
        "arg2_entity_id string, confidence double"
    )
    old_evidence = [
        ("c1", 0, "E1", "founded", "E2", 0.9),
        ("c1", 1, "E1", "Founded!", "E2", 0.8),  # P15-normalizes together
        ("c2", 0, "E1", "visited", "E3", 0.5),
    ]
    new_evidence = [
        ("c3", 0, "E1", "founded", "E2", 0.97),
        ("c3", 1, "E4", "joined", "E5", 0.8),
    ]
    full = materialize_graph(spark.createDataFrame(old_evidence + new_evidence, ddl))
    merged = merge_graph_edges(
        materialize_graph(spark.createDataFrame(old_evidence, ddl)),
        materialize_graph(spark.createDataFrame(new_evidence, ddl)),
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def _max_job_id(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # job-start events are posted async
    jobs = sc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def test_production_job_count(spark, tmp_path):
    """Spark jobs one fresh run submits on a small corpus. A regression
    here (a re-scan of the triples in the tail, a lost fusion) shows up as
    extra jobs long before it shows up in wall time."""
    t = generate_transcripts(spark, 20).cache()
    t.count()
    alias = alias_dict(spark)
    before = _max_job_id(spark)
    run_production(spark, t, alias, str(tmp_path / "kg"), n_buckets=4)
    n_jobs = _max_job_id(spark) - before
    assert n_jobs <= 26, n_jobs  # measured on this corpus
