"""Connected-components tests (min-label propagation with pointer jumping)."""

import random

import pytest

from lmw_tree_spark.operators.ccomp import connected_components


def test_simple_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    got = {r["image_id"]: r["dup_group"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def _union_find(edges, vertices=()):
    parent = {v: v for v in vertices}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.mark.parametrize("order", ["sorted", "shuffled"])
def test_chain_converges(spark, order):
    # long path graph — worst case for propagation depth; shuffled ids take
    # more rounds than a round cap of 25 allowed, and a round-over-round size
    # estimate would overflow (or exhaust the driver planning it)
    n = 300
    ids = [f"v{i:03d}" for i in range(n)]
    if order == "shuffled":
        random.Random(7).shuffle(ids)
    edges = spark.createDataFrame(
        list(zip(ids, ids[1:])), "src string, dst string"
    )
    out = connected_components(edges)
    got = out.collect()
    assert {r["dup_group"] for r in got} == {"v000"}
    assert len(got) == n
    assert out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() < 2**63


def test_star_path_and_isolated_match_union_find(spark):
    """Long ids: a star whose hub is its largest id, a shuffled path, a path
    with a star hanging off its middle, and isolated vertices."""
    rng = random.Random(3)
    edges = [(120, leaf) for leaf in range(100, 120)]
    path = list(range(200, 240))
    rng.shuffle(path)
    edges += list(zip(path, path[1:]))
    edges += [(i, i + 1) for i in range(300, 320)] + [(310, j) for j in range(330, 336)]
    isolated = [5, 400, 401]
    verts = sorted({v for e in edges for v in e} | set(isolated))
    got = {
        r["image_id"]: r["dup_group"]
        for r in connected_components(
            spark.createDataFrame(edges, "src long, dst long"),
            spark.createDataFrame([(v,) for v in verts], "image_id long"),
        ).collect()
    }
    assert got == _union_find(edges, verts)
    assert {got[v] for v in isolated} == set(isolated)


def test_singletons_from_vertex_universe(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    verts = spark.createDataFrame(
        [("a",), ("b",), ("lonely",)], "image_id string"
    )
    got = {r["image_id"]: r["dup_group"] for r in connected_components(edges, verts).collect()}
    assert got == {"a": "a", "b": "a", "lonely": "lonely"}


def test_label_is_min_id(spark):
    edges = spark.createDataFrame(
        [("zz", "mm"), ("mm", "aa"), ("zz", "aa")], "src string, dst string"
    )
    got = {r["image_id"]: r["dup_group"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {"aa"}


def test_merge_dup_groups_incremental_maintenance(spark):
    """New edges merge existing groups (stable min-group label), attach new
    members to corpus groups, form all-new groups, and leave untouched
    groups byte-identical — without any full-corpus recompute."""
    from lmw_tree_spark.operators.ccomp import merge_dup_groups

    assignments = spark.createDataFrame(
        [  # groups: g_a = {a1,a2}, g_b = {b1,b2}, g_c = {c1}, g_z untouched
            ("a1", "a1"), ("a2", "a1"),
            ("b1", "b1"), ("b2", "b1"),
            ("c1", "c1"),
            ("z1", "z1"), ("z2", "z1"),
        ],
        "image_id string, dup_group string",
    )
    edges = spark.createDataFrame(
        [
            ("a2", "b1"),   # merges group a1 with group b1 -> label a1
            ("n1", "c1"),   # new image joins group c1 (c1 < n1 -> label c1)
            ("n2", "n3"),   # all-new pair -> label n2
            ("a1", "a2"),   # same-group edge: contracts to a self-loop, no-op
        ],
        "src string, dst string",
    )
    got = dict(
        merge_dup_groups(assignments, edges).toPandas()
        .set_index("image_id")["dup_group"]
    )
    assert got == {
        "a1": "a1", "a2": "a1",
        "b1": "a1", "b2": "a1",   # remapped b1 -> a1
        "c1": "c1", "n1": "c1",   # new member adopts the existing id
        "n2": "n2", "n3": "n2",   # all-new component
        "z1": "z1", "z2": "z1",   # untouched
    }
