"""Canonicalization stage: connected components, UUID reconciliation,
merge semantics, root finding — the reference's merge-test contract
(`/root/reference/tests/cmd/test_merge.py:163-350`, `cmd/merge.py:131-202`)
in DataFrame form, plus CC property tests on chains/cycles."""

import pytest
from pyspark.sql import Row

from surfactant_spark.operators.canon import (
    alias_entity_map,
    attach_system,
    build_rel_graph,
    connected_components,
    find_roots,
    find_roots_with_cycles,
    get_roots_check_cycles_py,
    rewrite_edge_uuids,
)


def _cc_map(spark, edges, max_iter=50):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r.id: r.component for r in connected_components(df, max_iter=max_iter).collect()}


def test_cc_two_components(spark):
    comp = _cc_map(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_cc_long_chain_converges(spark):
    n = 40
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    comp = _cc_map(spark, edges)
    assert set(comp.values()) == {"n000"}


def test_cc_cycle_and_self_loop(spark):
    comp = _cc_map(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("z", "z")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert "z" not in comp  # self-loops carry no connectivity


def test_alias_entity_map_unions_shared_alias(spark):
    alias = spark.createDataFrame(
        [("e1", "e1", "k"), ("shared", "e1", "k"), ("shared", "e2", "k"), ("e3", "e3", "k")],
        ["alias", "canon_name", "entity_kind"],
    )
    m = {r.alias: r.entity for r in alias_entity_map(alias).collect()}
    assert m["shared"] == "e1" and m["e1"] == "e1" and m["e3"] == "e3"


def _entity_map(df):
    rows = alias_entity_map(df).collect()
    m = {r.alias: r.entity for r in rows}
    assert len(m) == len(rows)  # one row per alias
    return m


@pytest.mark.parametrize("seed", [3, 11])
def test_alias_entity_map_matches_oracle(spark, seed):
    from surfactant_spark.oracle import canonical_entity_map
    from surfactant_spark.synth import alias_dict_to_spark, make_alias_dict

    alias_pdf = make_alias_dict(300, seed=seed)
    got = _entity_map(alias_dict_to_spark(spark, alias_pdf))
    assert got == canonical_entity_map(alias_pdf)
    assert any(a.startswith("shared-") for a in got)


def test_alias_entity_map_chain_of_three(spark):
    """eC -a1- eB -a2- eA: two shared aliases chain three entities into
    one component, named by its min entity, as the oracle names it."""
    import pandas as pd

    from surfactant_spark.oracle import canonical_entity_map

    alias_pdf = pd.DataFrame(
        [("eC", "eC", "k"), ("eB", "eB", "k"), ("eA", "eA", "k"),
         ("a1", "eC", "k"), ("a1", "eB", "k"), ("a2", "eB", "k"), ("a2", "eA", "k"),
         ("lone", "eZ", "k")],
        columns=["alias", "canon_name", "entity_kind"],
    )
    got = _entity_map(spark.createDataFrame(alias_pdf))
    assert got == canonical_entity_map(alias_pdf)
    assert got == {"eC": "eA", "eB": "eA", "eA": "eA", "a1": "eA", "a2": "eA",
                   "lone": "eZ"}


def test_alias_entity_map_drops_null_rows(spark, spark_pages, corpus, tmp_path):
    """Dictionary rows with a null alias or canon_name add no map row
    and change no pipeline edge."""
    from surfactant_spark.plans.pipeline import run_pipeline

    _, alias_pdf = corpus
    schema = "alias string, canon_name string, entity_kind string"
    clean = spark.createDataFrame(alias_pdf, schema)
    first = alias_pdf.iloc[0]
    dirty = clean.unionByName(spark.createDataFrame(
        [(None, first.canon_name, "library"), (first.alias, None, "library"),
         ("only-null-entity", None, "library"), (None, None, None)],
        schema,
    ))
    assert _entity_map(dirty) == _entity_map(clean)

    def edges(alias, wd):
        res = run_pipeline(spark, spark_pages, alias, str(tmp_path / wd))
        return {(r.subj_uuid, r.pred, r.obj_uuid, r.n_evidence)
                for r in res.edges.collect()}

    want = edges(clean, "clean")
    assert want and edges(dirty, "dirty") == want


def test_rewrite_edge_uuids_then_dedup(spark):
    # rewrite-before-dedup order (`_sbom.py:203-217`; SURVEY §7.3 #6)
    edges = spark.createDataFrame(
        [("old1", "Uses", "b", 1, ["u"]), ("new1", "Uses", "b", 1, ["u"]), ("b", "Uses", "old1", 1, ["u"])],
        ["subj_uuid", "pred", "obj_uuid", "n_evidence", "sources"],
    )
    umap = spark.createDataFrame([("old1", "new1")], ["old_uuid", "new_uuid"])
    got = {
        (r.subj_uuid, r.pred, r.obj_uuid)
        for r in rewrite_edge_uuids(edges, umap).collect()
    }
    assert got == {("new1", "Uses", "b"), ("b", "Uses", "new1")}


def test_find_roots_left_anti(spark):
    nodes = spark.createDataFrame([Row(uuid=u) for u in "abcd"])
    edges = spark.createDataFrame(
        [("a", "Contains", "b"), ("b", "Contains", "c")],
        ["subj_uuid", "pred", "obj_uuid"],
    )
    assert {r.uuid for r in find_roots(nodes, edges).collect()} == {"a", "d"}


def test_find_roots_with_cycles_elects_min(spark):
    nodes = spark.createDataFrame([Row(uuid=u) for u in ["c1", "c2", "c3", "iso"]])
    edges = spark.createDataFrame(
        [("c1", "Contains", "c2"), ("c2", "Contains", "c3"), ("c3", "Contains", "c1")],
        ["subj_uuid", "pred", "obj_uuid"],
    )
    got = {r.uuid for r in find_roots_with_cycles(nodes, edges).collect()}
    assert got == {"c1", "iso"}  # pure cycle elects min uuid; isolated node is a root


def test_attach_system(spark):
    edges = spark.createDataFrame(
        [("a", "Contains", "b")], ["subj_uuid", "pred", "obj_uuid"]
    )
    roots = spark.createDataFrame([Row(uuid="a")])
    got = {
        (r.subj_uuid, r.pred, r.obj_uuid)
        for r in attach_system(edges, roots, "sys-1", "Includes").collect()
    }
    assert got == {("a", "Contains", "b"), ("sys-1", "Includes", "a")}


def test_reference_dfs_cycle_rule_parity():
    # acyclic: roots are parentless nodes (`cmd/merge.py:157-185`)
    g = build_rel_graph(["a", "b", "c", "d"], [("a", "b"), ("b", "c")])
    assert get_roots_check_cycles_py(g) == {"a", "d"}
    # pure cycle: entry node of the walk becomes root (`cmd/merge.py:186-196`)
    g2 = build_rel_graph(["a", "b", "c"], [("a", "b"), ("b", "c"), ("c", "a")])
    assert len(get_roots_check_cycles_py(g2)) >= 1
    # cycle with an external root: only the true root remains
    g3 = build_rel_graph(["r", "a", "b"], [("r", "a"), ("a", "b"), ("b", "a")])
    assert get_roots_check_cycles_py(g3) == {"r"}


def test_merge_graphs_full_command(spark):
    """The merge-command composition (`cmd/merge.py:56-128`): fold,
    rewrite, roots, system attachment — reference test contract
    `tests/cmd/test_merge.py:163-350` (add_system true/false, custom
    relationship, specified/derived system UUID, orphan prevention)."""
    from surfactant_spark.operators.canon import merge_graphs

    schema = "uuid string, sha256 string, fileName array<string>"
    s1 = spark.createDataFrame([("a", "h1", ["a"]), ("b", "h2", ["b"])], schema)
    e1 = spark.createDataFrame(
        [("a", "Contains", "b")], "subj_uuid string, pred string, obj_uuid string"
    )
    s2 = spark.createDataFrame([("a2", "h1", ["a-copy"]), ("c", "h3", ["c"])], schema)
    e2 = spark.createDataFrame(
        [("a2", "Contains", "c")], "subj_uuid string, pred string, obj_uuid string"
    )

    # 1. simple merge: a2 collapses into a (sha match); its edge is rewritten
    sw, ed, roots, system, star = merge_graphs([(s1, e1), (s2, e2)])
    assert star is None  # stable 5-tuple even without star tables
    assert {r.uuid for r in sw.collect()} == {"a", "b", "c"}
    got_edges = {(r.subj_uuid, r.pred, r.obj_uuid) for r in ed.collect()}
    assert got_edges == {("a", "Contains", "b"), ("a", "Contains", "c")}
    assert {r.uuid for r in roots.collect()} == {"a"}
    assert system is None  # no add_system -> no system (orphan prevention)

    # 2. add_system with specified UUID + custom relationship
    sw, ed, roots, system, _star = merge_graphs(
        [(s1, e1), (s2, e2)],
        add_system=True,
        system_uuid="sys-123",
        system_relationship="DependsOn",
    )
    assert system["UUID"] == "sys-123"
    got_edges = {(r.subj_uuid, r.pred, r.obj_uuid) for r in ed.collect()}
    assert ("sys-123", "DependsOn", "a") in got_edges

    # 3. add_system without UUID -> deterministic derived UUID
    _, _, _, sys_a, _ = merge_graphs([(s1, e1), (s2, e2)], add_system=True)
    _, _, _, sys_b, _ = merge_graphs([(s1, e1), (s2, e2)], add_system=True)
    assert sys_a["UUID"] == sys_b["UUID"]  # idempotent across runs

    # 4. no add_system but explicit UUID -> relationships still created
    _, ed, _, system, _ = merge_graphs([(s1, e1), (s2, e2)], system_uuid="sys-9")
    assert system is None
    assert ("sys-9", "Contains", "a") in {
        (r.subj_uuid, r.pred, r.obj_uuid) for r in ed.collect()
    }


def test_merge_software_hash_and_uuid_matching(spark):
    from surfactant_spark.operators.canon import merge_software

    schema = (
        "uuid string, sha256 string, md5 string, fileName array<string>, "
        "installPath array<string>, containerPath array<string>, name string"
    )
    base = spark.createDataFrame(
        [
            ("u1", "h1", None, ["f1"], ["/a/f1"], ["u1/f1"], "one"),
            ("u2", "h2", "m2", ["f2"], ["/a/f2"], None, "two"),
        ],
        schema,
    )
    incoming = spark.createDataFrame(
        [
            ("u9", "h1", None, ["f1", "f1b"], ["/b/f1"], ["u9/f1"], "one-renamed"),  # sha match
            ("u2", None, None, ["f2x"], None, None, "two"),  # uuid match (no hashes)
            ("u5", "h5", None, ["f5"], ["/a/f5"], None, "five"),  # new
        ],
        schema,
    )
    merged, umap = merge_software(base, incoming)
    mp = {r.uuid: r for r in merged.collect()}
    assert set(mp) == {"u1", "u2", "u5"}
    assert {(r.old_uuid, r.new_uuid) for r in umap.collect()} == {("u9", "u1")}
    # array union keeps base order then appends new items
    assert mp["u1"].fileName == ["f1", "f1b"]
    assert mp["u1"].installPath == ["/a/f1", "/b/f1"]
    # containerPath UUID prefix rewritten to surviving uuid (`_software.py:148-152`)
    assert mp["u1"].containerPath == ["u1/f1"]
    # scalar: incoming wins when matched (`_software.py:131-136` last-wins)
    assert mp["u1"].name == "one-renamed"
    assert mp["u2"].fileName == ["f2", "f2x"]
    assert mp["u5"].name == "five"


def test_merge_graphs_star_relationships_and_side_tables(spark):
    """starRelationships go through the same rewrite-before-dedup path
    (`_sbom.py:241-255`); observations append without dedup
    (`_sbom.py:233-239`)."""
    from surfactant_spark.operators.canon import merge_graphs, merge_side_tables

    sw_schema = "uuid string, sha256 string"
    e_schema = "subj_uuid string, pred string, obj_uuid string"
    s1 = spark.createDataFrame([("a", "h1"), ("b", "h2")], sw_schema)
    e1 = spark.createDataFrame([("a", "Uses", "b")], e_schema)
    st1 = spark.createDataFrame([("a", "AnnotatedBy", "b")], e_schema)
    # incoming node 'x' shares h2 -> collapses into 'b'
    s2 = spark.createDataFrame([("x", "h2")], sw_schema)
    e2 = spark.createDataFrame([], e_schema)
    st2 = spark.createDataFrame([("a", "AnnotatedBy", "x")], e_schema)

    sw, ed, roots, system, star = merge_graphs([(s1, e1, st1), (s2, e2, st2)])
    got = {(r.subj_uuid, r.pred, r.obj_uuid) for r in star.collect()}
    # x rewrote to b and the duplicate star edge collapsed
    assert got == {("a", "AnnotatedBy", "b")}
    assert {r.uuid for r in sw.collect()} == {"a", "b"}

    obs1 = spark.createDataFrame([("b", "CVE-1")], "uuid string, cve string")
    obs2 = spark.createDataFrame([("b", "CVE-1")], "uuid string, cve string")
    merged = merge_side_tables([obs1, obs2, None])
    assert merged.count() == 2  # append, no dedup


def test_cc_distributed_medium_scale_vs_union_find(spark):
    """The distributed min-label loop (not the auto driver path) on a
    ~15k-edge graph mixing a deep chain, cycles and random clusters —
    verified against a union-find ground truth."""
    import random

    from surfactant_spark.operators.canon import connected_components

    rng = random.Random(7)
    edges = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(800)]  # deep chain
    edges += [(f"r{rng.randrange(3000):04d}", f"r{rng.randrange(3000):04d}")
              for _ in range(12000)]
    edges += [("y0", "y1"), ("y1", "y2"), ("y2", "y0")]  # pure cycle
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.id: r.component for r in connected_components(df).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    want = {x: find(x) for x in parent}
    assert got == want


def test_rewrite_container_paths_distributed(spark):
    """36-char UUID prefix rewrite preserving array order, dedup after
    rewrite, NULL/empty arrays untouched (`_sbom.py:219-230`)."""
    from surfactant_spark.operators.canon import rewrite_container_paths

    old, new, other = "0" * 36, "1" * 36, "2" * 36
    sw = spark.createDataFrame(
        [("a", [f"{old}/f1", f"{other}/f2", f"{new}/f1"]), ("b", None), ("c", [])],
        "uuid string, containerPath array<string>",
    )
    m = spark.createDataFrame([(old, new)], "old_uuid string, new_uuid string")
    got = {r.uuid: r.containerPath for r in rewrite_container_paths(sw, m).collect()}
    assert got["a"] == [f"{new}/f1", f"{other}/f2"]  # rewritten, order kept, deduped
    assert got["b"] is None
    assert got["c"] == []
