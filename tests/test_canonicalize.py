"""Driver-path connected components and canonical ids: equivalence with the
distributed star loop and with a plain-Python union-find, and a plan guard
that keeps the driver path from re-running its edge input."""

import functools

from openie_with_entities_spark import canonicalize as C

KEY_DDL = "conv_id string, turn_idx int, sent_idx int, split_idx int, ext_idx int"


def _union_find(edges) -> dict[str, str]:
    """node → lexicographic min node of its component."""
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _graph():
    edges = [(f"h{h}_{i}", f"h{h}") for h in range(3) for i in range(6)]  # stars
    edges += [(f"c{i + 1:02d}", f"c{i:02d}") for i in range(40)]  # 40-hop chain
    edges.append(("loop", "loop"))  # a node whose only edge is a self-loop
    edges.append(("h0_1", "h0"))  # duplicated edge
    return edges


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_driver_path_matches_star_loop(spark):
    edges = spark.createDataFrame(_graph(), "src string, dst string")
    local = {tuple(r) for r in C.connected_components(edges).collect()}
    star = {
        tuple(r)
        for r in C.connected_components(edges, driver_threshold=0).collect()
    }
    assert local == star == set(_union_find(_graph()).items())
    assert ("loop", "loop") in local and ("c40", "c00") in local


def _linked_mentions(spark):
    """(surface, entity) links: a star of aliases, one surface linked to two
    entities (so a KB id that is not its component's canonical id), and a
    40-hop surface/entity chain; one link appears twice."""
    links = [("alan turing", "E7"), ("turing", "E7"), ("acme", "E3"), ("acme", "E2")]
    links += [(f"k{i:02d}", f"K{i + j:02d}") for i in range(20) for j in (0, 1)]
    links.append(("turing", "E7"))
    rows = [
        (f"c{n}", 0, 0, 0, 0, 1, surface, 0, entity)
        for n, (surface, entity) in enumerate(links)
    ]
    return links, spark.createDataFrame(
        rows,
        KEY_DDL + ", arg_pos int, surface_norm string, begin_word int, entity_id string",
    )


def _reference_entity_nodes(links) -> set[tuple]:
    comp = _union_find((f"s:{s}", f"e:{e}") for s, e in links)
    kb_min: dict[str, str] = {}
    for node, root in comp.items():
        if node.startswith("e:"):
            kb_min[root] = min(kb_min.get(root, node[2:]), node[2:])
    return {
        (kb_min.get(root, min(n for n, r in comp.items() if r == root)), node,
         node.startswith("e:"))
        for node, root in comp.items()
    }


def test_canonicalize_matches_union_find(spark, monkeypatch):
    links, linked = _linked_mentions(spark)
    triples = spark.createDataFrame([("c0", 0, 0, 0, 0)], KEY_DDL)
    want = _reference_entity_nodes(links)
    assert ("E2", "e:E3", True) in want and ("K00", "s:k19", False) in want

    entity_nodes, _ = C.canonicalize(triples, linked)
    assert entity_nodes.isLocal()
    assert {tuple(r) for r in entity_nodes.collect()} == want

    # the distributed groupBy + join gives the same table
    monkeypatch.setattr(
        C, "connected_components",
        functools.partial(C.connected_components, driver_threshold=0),
    )
    entity_nodes, _ = C.canonicalize(triples, linked)
    assert not entity_nodes.isLocal()
    assert {tuple(r) for r in entity_nodes.collect()} == want


def test_driver_path_does_not_reference_its_input(spark):
    """The node table comes from the probe collect: reading the result must
    not re-run the (here: Python) pipeline that produced the edges."""
    passthrough = lambda batches: batches  # noqa: E731  (pickled by value)
    edges = spark.createDataFrame(_graph(), "src string, dst string").mapInPandas(
        passthrough, "src string, dst string"
    )
    assert "MapInPandas" in _optimized_plan(edges)
    comps = C.connected_components(edges)
    assert comps.isLocal()

    _, linked = _linked_mentions(spark)
    linked = linked.mapInPandas(passthrough, linked.schema)
    triples = spark.createDataFrame([("c0", 0, 0, 0, 0)], KEY_DDL)
    entity_nodes, _ = C.canonicalize(triples, linked)
    assert entity_nodes.isLocal()
