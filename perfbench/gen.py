"""Seeded input generators. Every input is a pure function of the seed;
the program under test only ever sees the parquet files written here.

* ``stock_corpus``: the package's own transcript corpus
  (``corpus.generate_transcripts`` rows, built on the driver from the same
  per-conversation generator) with its 32-entity gazetteer. Sentences repeat
  heavily, so the fused stage's per-task sentence memo absorbs most work.
* ``novel_corpus``: turns in which nearly every sentence is distinct, over a
  dictionary of several thousand entities whose mentions are Zipf-skewed,
  so a few hot surfaces dominate the link join while the memo misses.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openie_with_entities_spark.corpus import _gen_conv, gazetteer_rows
from openie_with_entities_spark.oracle import segment_text

TRANSCRIPT_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
ALIAS_ARROW = pa.schema(
    [
        ("surface_form", pa.string()),
        ("entity_id", pa.string()),
        ("canonical_name", pa.string()),
        ("ner_type", pa.string()),
        ("prior", pa.float64()),
    ]
)

N_NOVEL_ENTITIES = 4000
ZIPF_S = 1.1
_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def normalize_surface(s: str) -> str:
    """Lower-case, drop every character that is neither a word character
    nor whitespace, strip: the surface normalization the package documents,
    written here without its code."""
    return "".join(c for c in s.lower() if c.isalnum() or c == "_" or c.isspace()).strip()


def mention_surfaces(text: str) -> list[str]:
    """Normalized surfaces of the maximal runs of capitalized tokens in
    ``text``, in order: the mentions the package's default detector finds."""
    runs, cur = [], []
    for tok in text.split():
        if tok[:1].isupper():
            cur.append(tok)
        elif cur:
            runs.append(cur)
            cur = []
    if cur:
        runs.append(cur)
    return [normalize_surface(" ".join(r)) for r in runs]


def write_rows(rows: list[dict], schema: pa.Schema, path: str, n_files: int = 4) -> None:
    """Write ``rows`` as ``n_files`` parquet files under directory ``path``
    (several files, so the scan feeds several tasks)."""
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-len(rows) // n_files))
    for i in range(0, max(len(rows), 1), step):
        table = pa.Table.from_pylist(rows[i : i + step], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i // step:05d}.parquet"))


def stock_corpus(n_convs: int, seed: int) -> tuple[list[dict], list[dict]]:
    """(transcript rows, alias rows): ``generate_transcripts(spark, n_convs,
    seed)`` row for row, plus the stock gazetteer."""
    rows = list(itertools.chain.from_iterable(_gen_conv(c, seed) for c in range(n_convs)))
    return rows, gazetteer_rows()


# ------------------------------------------------------------- novel corpus

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "br", "kr", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]
_CODAS = ["", "n", "r", "l", "s", "x", "th"]
_VERBS = [
    "founded", "acquired", "visited", "joined", "praised", "criticized",
    "advised", "funded", "studied", "mentored", "hired", "sued",
]
_ROLES = ["chairman", "founder", "director", "advisor", "president"]
_TYPES = ["PER", "ORG", "LOC"]


def _word(rng: random.Random, syllables: int) -> str:
    w = "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
        for _ in range(syllables)
    )
    return w.capitalize()


def novel_dictionary(seed: int, n_entities: int = N_NOVEL_ENTITIES) -> list[dict]:
    """Alias rows: one two-word name and one single-word alias per entity,
    every surface unique (so each entity is its own canonical cluster)."""
    rng = random.Random(f"dict:{seed}")
    seen: set[str] = set()
    rows = []
    i = 0
    while len(rows) < 2 * n_entities:
        first, last = _word(rng, 2), _word(rng, rng.randint(2, 3))
        name = f"{first} {last}"
        alias = last
        s_name, s_alias = normalize_surface(name), normalize_surface(alias)
        if s_name in seen or s_alias in seen or s_name == s_alias:
            continue
        seen.update((s_name, s_alias))
        eid = f"N{i:05d}"
        typ = _TYPES[i % 3]
        rows.append({"surface_form": s_name, "entity_id": eid, "canonical_name": name,
                     "ner_type": typ, "prior": 0.9})
        rows.append({"surface_form": s_alias, "entity_id": eid, "canonical_name": name,
                     "ner_type": typ, "prior": 0.4})
        i += 1
    return rows


class _Zipf:
    def __init__(self, items: list, s: float):
        self.items = items
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(items))))

    def __call__(self, rng: random.Random):
        x = rng.random() * self.cum[-1]
        return self.items[bisect.bisect_left(self.cum, x)]


def _novel_sentence(rng: random.Random, ent) -> str:
    a, b = ent(rng), ent(rng)
    k = rng.random()
    # the year / count tokens make nearly every sentence text distinct
    if k < 0.45:
        return f"{a} {rng.choice(_VERBS)} {b} in {rng.randint(1000, 9999)} ."
    if k < 0.70:
        c = ent(rng)
        return f"{a} , {b} and {c} {rng.choice(_VERBS)} {ent(rng)} in {rng.randint(1000, 9999)} ."
    if k < 0.85:
        return f"{a} {rng.choice(_ROLES)} of {b} since {rng.randint(1000, 9999)} ."
    return f"{a} {rng.choice(_VERBS)} {rng.randint(2, 999)} {b} ."


def novel_corpus(n_convs: int, seed: int) -> tuple[list[dict], list[dict]]:
    """(transcript rows, alias rows) for the memo-miss / hot-surface corpus.
    Mentions draw entities Zipf(s=1.1) by rank; half the draws use the
    alias surface, so both surfaces of a hot entity are hot."""
    alias = novel_dictionary(seed)
    names = []
    for i in range(0, len(alias), 2):
        names.append((alias[i]["canonical_name"], alias[i]["canonical_name"].split()[-1]))
    rng_order = random.Random(f"rank:{seed}")
    rng_order.shuffle(names)  # hot ranks are random entities, not the first ids
    zipf = _Zipf(names, ZIPF_S)

    def ent(rng: random.Random) -> str:
        full, short = zipf(rng)
        return full if rng.random() < 0.5 else short

    rows = []
    for conv in range(n_convs):
        for t in range(3 + conv % 8):
            rng = random.Random(f"novel:{seed}:{conv}:{t}")
            role = ["user", "assistant", "tool"][t % 3]
            text = " ".join(_novel_sentence(rng, ent) for _ in range(rng.randint(1, 4)))
            rows.append({
                "conv_id": f"conv-{conv:08d}", "turn_idx": t, "role": role, "text": text,
                "tool": "search" if role == "tool" else None,
                "ts": _EPOCH + dt.timedelta(minutes=conv % 1440, seconds=17 * t),
            })
    return rows, alias


def distinct_sentence_share(rows: list[dict]) -> float:
    """Distinct sentence texts ÷ sentence instances (the memo's miss share)."""
    sents = [s for r in rows for s in segment_text(r["text"] or "")]
    return len(set(sents)) / max(len(sents), 1)


def hot_surface_share(rows: list[dict], alias: list[dict], top: int = 10) -> float:
    """Share of dictionary-matched mentions (each capitalized run counted
    once) that fall on the ``top`` most frequent surfaces."""
    from collections import Counter

    surfaces = {a["surface_form"] for a in alias}
    counts = Counter(m for r in rows for m in mention_surfaces(r["text"] or "") if m in surfaces)
    total = sum(counts.values())
    return sum(c for _, c in counts.most_common(top)) / max(total, 1)


def properties(rows: list[dict], alias: list[dict]) -> dict[str, float]:
    return {"distinct_sentence_share": distinct_sentence_share(rows),
            "hot_surface_share": hot_surface_share(rows, alias)}


CORPORA = {"stock": stock_corpus, "novel": novel_corpus}


def write_inputs(corpus: str, n_convs: int, warm_convs: int, gate_convs: int, seed: int, out: str) -> None:
    """Write one workload's inputs under ``out`` and its properties to
    ``out/meta.json``: the timed corpus, a small warm-up corpus drawn with
    another seed, both alias tables, the sampled gate conversations, and
    the properties of the same corpus drawn with ``seed + 1``, so the run
    can check that they do not depend on the seed."""
    make = CORPORA[corpus]
    rows, alias = make(n_convs, seed)
    warm_rows, warm_alias = make(warm_convs, seed + 1_000_003)
    # a slice of the dictionary keeps the warm-up short; it still links
    warm_alias = warm_alias[:400]
    write_rows(rows, TRANSCRIPT_ARROW, os.path.join(out, "transcripts"))
    write_rows(warm_rows, TRANSCRIPT_ARROW, os.path.join(out, "warm_transcripts"))
    write_rows(alias, ALIAS_ARROW, os.path.join(out, "alias"), n_files=1)
    write_rows(warm_alias, ALIAS_ARROW, os.path.join(out, "warm_alias"), n_files=1)
    sample = set(random.Random(f"gate:{seed}").sample(range(n_convs), gate_convs))
    sample_turns = [
        (r["conv_id"], r["turn_idx"], r["text"]) for r in rows
        if int(r["conv_id"].split("-")[1]) in sample
    ]
    meta = {
        "n_turns": len(rows),
        "n_nonempty_turns": sum(1 for r in rows if r["text"]),
        "n_sentences": sum(len(segment_text(r["text"] or "")) for r in rows),
        **properties(rows, alias),
        "next_seed_properties": properties(*make(n_convs, seed + 1)),
        "alias": alias,
        "sample_turns": sample_turns,
    }
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    import argparse

    p = argparse.ArgumentParser(description=write_inputs.__doc__)
    p.add_argument("--corpus", choices=sorted(CORPORA), required=True)
    p.add_argument("--convs", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--warm-convs", type=int, required=True)
    p.add_argument("--gate-convs", type=int, required=True)
    p.add_argument("--out", required=True, help="write the inputs here")
    a = p.parse_args()
    write_inputs(a.corpus, a.convs, a.warm_convs, a.gate_convs, a.seed, a.out)
