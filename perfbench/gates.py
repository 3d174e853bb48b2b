"""Output gates: each compares a program output with an independent
computation in plain Python. Mention spans and surface normalization come
from the benchmark's own ``gen.mention_surfaces``; the only package code
used is ``oracle.reference_triples``, the sequential extraction oracle. A
gate returns (passed, detail)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gen import mention_surfaces
from openie_with_entities_spark.oracle import reference_triples


def best_entity(alias_rows: list[dict]) -> dict[str, str]:
    """surface → entity id by highest prior, then highest entity id (the
    package's documented disambiguation). Every surface of the generated
    dictionaries names one entity, so canonical ids equal entity ids."""
    best: dict[str, tuple[float, str]] = {}
    for r in alias_rows:
        key = (r["prior"], r["entity_id"])
        if r["surface_form"] not in best or key > best[r["surface_form"]]:
            best[r["surface_form"]] = key
    return {s: k[1] for s, k in best.items()}


def _first_entity(text: str, best: dict[str, str]) -> str | None:
    return next((best[m] for m in mention_surfaces(text) if m in best), None)


def oracle_gate(triples: DataFrame, turns: list[tuple[str, int, str]], alias_rows: list[dict]):
    """Linked triples of the sampled conversations equal the sequential
    oracle per sentence, and each argument's entity id equals a dictionary
    lookup of its first dictionary-matched mention."""
    best = best_entity(alias_rows)
    want = defaultdict(set)
    for d in reference_triples(turns):
        key = (d["conv_id"], d["turn_idx"], d["sent_idx"])
        want[key].add((d["arg1"], d["rel"], d["arg2"], d["confidence"],
                       _first_entity(d["arg1"], best), _first_entity(d["arg2"], best)))
    convs = sorted({t[0] for t in turns})
    got = defaultdict(set)
    for r in (
        triples.where(F.col("conv_id").isin(convs))
        .select("conv_id", "turn_idx", "sent_idx", "arg1", "rel", "arg2", "confidence",
                "arg1_entity_id", "arg2_entity_id")
        .collect()
    ):
        got[(r.conv_id, r.turn_idx, r.sent_idx)].add(
            (r.arg1, r.rel, r.arg2, r.confidence, r.arg1_entity_id, r.arg2_entity_id))
    if not want:
        return False, "oracle produced no triples for the sample"
    bad = [k for k in set(want) | set(got) if want.get(k) != got.get(k)]
    n_linked = sum(1 for rows in want.values() for r in rows if r[4] or r[5])
    if bad:
        k = sorted(bad)[0]
        return False, f"{len(bad)} sentences differ; first {k}: want {want.get(k)} got {got.get(k)}"
    if n_linked == 0:
        return False, "no sampled triple links an entity"
    return True, f"{len(want)} sentences, {n_linked} linked triples match"


def digest(df: DataFrame) -> tuple[int, int]:
    """Order-independent (row count, xxhash64 sum) over every column."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h or 0)


def seed_gate(meta: dict, tol: float = 0.05):
    """The workload properties of the run's seed and of the next seed agree
    within ``tol`` of the run's value, so claims citing them do not depend
    on the seed."""
    nxt = meta["next_seed_properties"]
    off = {k: (meta[k], v) for k, v in nxt.items() if abs(v - meta[k]) > tol * meta[k]}
    detail = ", ".join(f"{k} {meta[k]:.4f} vs {v:.4f}" for k, v in nxt.items())
    return not off, detail
