"""prune_graph `full` contract.

The final payload materialization may filter a SUPERSET table (the plain
node checkpoint, before the instance-filter / endpoint-drop anti-joins)
by the pruned key set, because `keys` is derived from the filtered view
and therefore already excludes every dropped row.  This pins that a
superset `full` returns exactly the same nodes and edges as the filtered
view itself, across all three drop mechanisms (orphan prune,
DataModel-vs-Class dedup, dangling-edge removal)."""

from stakgraph_spark.prune import (CLEAN_DIRECTIVES, prune_graph,
                                   prune_orphan_functions)


def _mk_nodes(spark, rows):
    return spark.createDataFrame(
        rows,
        "node_key string, node_type string, repo string, "
        "lang string, name string, file string, start long, end long, "
        "meta map<string,string>, body string")


def _mk_edges(spark, rows):
    """Edge rows name their endpoints by number n, keyed "k{n}"."""
    return spark.createDataFrame(
        [(f"k{s}", f"k{d}", *rest) for s, d, *rest in rows],
        "src_key string, dst_key string, edge_type string, operand string, "
        "confidence double, strategy string, repo string, lang string")


def test_prune_full_superset_equivalence(spark):
    r, l = "repo", "python"
    filtered = [
        # survives: ordinary function with a Calls edge
        ("k1", "Function", r, l, "f_keep", "a.py", 1, 5, {}, "b1"),
        # survives: nesting parent
        ("k2", "Function", r, l, "f2", "a.py", 10, 30, {}, "b2"),
        # orphan-pruned: nested in f2, no protecting edges
        ("k3", "Function", r, l, "f_orphan", "a.py", 12, 14, {}, "b3"),
        # survives: Class with Operand evidence
        ("k4", "Class", r, l, "X", "m.py", 1, 9, {}, "b4"),
        # dedup-dropped: DataModel shadowed by the Operand-bearing Class
        ("k5", "DataModel", r, l, "X", "m.py", 1, 9, {}, "b5"),
    ]
    # the superset additionally carries a row the pipeline's upstream
    # anti-joins removed (e.g. a java instance-filter hit) — it is absent
    # from the filtered view, hence from slim, hence from keys, and must
    # not resurface through a superset `full`
    superset = filtered + [
        ("k6", "Instance", r, l, "ghost", "m.py", 3, 3, {}, "b6"),
    ]
    edges = [
        (3, 2, "NestedIn", None, None, None, r, l),   # orphan marker
        (4, 1, "Operand", None, None, None, r, l),    # keeper evidence
        (1, 2, "Calls", None, 0.9, "same_file", r, l),
        (2, 3, "Contains", None, None, None, r, l),   # dangles after prune
    ]

    nodes_f = _mk_nodes(spark, filtered)
    nodes_s = _mk_nodes(spark, superset)
    edges_df = _mk_edges(spark, edges)

    slim = nodes_f.drop("body")
    own_n, own_e = prune_graph(slim, edges_df, nodes_f, CLEAN_DIRECTIVES)
    new_n, new_e = prune_graph(slim, edges_df, nodes_s, CLEAN_DIRECTIVES)

    own_nodes = sorted(map(tuple, own_n.collect()))
    new_nodes = sorted(map(tuple, new_n.collect()))
    assert own_nodes == new_nodes
    assert sorted(r["node_key"] for r in new_n.collect()) == ["k1", "k2", "k4"]

    own_edges = sorted(map(tuple, own_e.collect()))
    new_edges = sorted(map(tuple, new_e.collect()))
    assert own_edges == new_edges
    kept = {(r["src_key"], r["dst_key"], r["edge_type"])
            for r in new_e.collect()}
    assert kept == {("k4", "k1", "Operand"), ("k1", "k2", "Calls")}


# ---- every CLEAN_DIRECTIVES entry fires: drop sets computed from one view
# must equal the directives applied in sequence ----

def _mixed_fixture():
    r = "repo"

    def n(k, t, lang, name, file, start, end, meta=None):
        return (f"k{k}", t, r, lang, name, file, start, end,
                meta or {}, f"b{k}")

    nodes = [
        # python: X's Operand method is live -> DataModel X dropped; Y's only
        # Operand dst is orphan-pruned -> DataModel Y kept
        n(10, "Class", "python", "X", "m.py", 1, 9),
        n(11, "Function", "python", "meth", "m.py", 2, 3),
        n(12, "DataModel", "python", "X", "m.py", 1, 9),
        n(13, "Class", "python", "Y", "n.py", 1, 9),
        n(14, "Function", "python", "inner", "n.py", 12, 13),
        n(15, "Function", "python", "outer", "n.py", 11, 20),
        n(16, "DataModel", "python", "Y", "n.py", 1, 9),
        # go: Svc has a live method; Lonely has none; Ghost's only method
        # is orphan-pruned (nested in a function, no calls) -> dropped
        n(20, "Class", "go", "Svc", "s.go", 1, 5),
        n(21, "Function", "go", "Run", "s.go", 6, 9, {"operand": "Svc"}),
        n(22, "Class", "go", "Lonely", "s.go", 10, 12),
        n(23, "Class", "go", "Ghost", "g.go", 1, 3),
        n(24, "Function", "go", "haunt", "g.go", 6, 7, {"operand": "Ghost"}),
        n(25, "Function", "go", "host", "g.go", 5, 9),
        # rust: Thing has a method; Unused has none; Svc has no RUST method
        # (the go one must not count across languages)
        n(30, "Class", "rust", "Thing", "t.rs", 1, 3),
        n(31, "Function", "rust", "make", "t.rs", 4, 6, {"operand": "Thing"}),
        n(32, "Class", "rust", "Unused", "t.rs", 7, 8),
        n(33, "Class", "rust", "Svc", "t.rs", 9, 10),
    ]

    def e(s, d, t, lang):
        return (s, d, t, None, None, None, r, lang)

    edges = [
        e(10, 11, "Operand", "python"),
        e(13, 14, "Operand", "python"),
        e(14, 15, "NestedIn", "python"),
        e(15, 11, "Calls", "python"),
        e(24, 25, "NestedIn", "go"),
        e(25, 21, "Calls", "go"),
        e(20, 21, "Operand", "go"),
        e(23, 24, "Operand", "go"),
        e(30, 31, "Operand", "rust"),
        e(32, 31, "Contains", "rust"),
    ]
    return nodes, edges


def _sequential_keys(nodes, edges, removed):
    """The directives applied one after another, each to the previous
    result, over the post-orphan node list (the Operand evidence excludes
    edges whose dst was orphan-pruned)."""
    live = [x for x in nodes if x[0] not in removed]
    evidence = {f"k{s}" for s, d, t, *_ in edges
                if t == "Operand" and f"k{d}" not in removed}
    for lang, directives in CLEAN_DIRECTIVES.items():
        for kind, *args in directives:
            if kind == "dedup":
                remove_t, keep_t = args
                keep = {(x[2], x[4], x[5]) for x in live
                        if x[1] == keep_t and x[3] == lang
                        and x[0] in evidence}
                live = [x for x in live
                        if not (x[1] == remove_t and x[3] == lang
                                and (x[2], x[4], x[5]) in keep)]
            else:
                parent_t, child_t, key = args
                names = {(x[2], x[8].get(key)) for x in live
                         if x[1] == child_t and x[3] == lang}
                live = [x for x in live
                        if not (x[1] == parent_t and x[3] == lang
                                and (x[2], x[4]) not in names)]
    return {x[0] for x in live}


def test_prune_directives_match_sequential(spark):
    nodes, edges = _mixed_fixture()
    nodes_df, edges_df = _mk_nodes(spark, nodes), _mk_edges(spark, edges)
    removed = {r["node_key"] for r in
               prune_orphan_functions(nodes_df, edges_df).collect()}
    assert removed == {"k14", "k24"}
    want = _sequential_keys(nodes, edges, removed)
    # every directive fired: X (python dedup), Lonely + Ghost (go),
    # Unused + Svc (rust)
    assert {x[0] for x in nodes} - want - {"k14", "k24"} == {
        "k12", "k22", "k23", "k32", "k33"}

    out_n, out_e = prune_graph(nodes_df, edges_df, nodes_df,
                               CLEAN_DIRECTIVES)
    assert {r["node_key"] for r in out_n.collect()} == want
    assert {(r["src_key"], r["dst_key"], r["edge_type"])
            for r in out_e.collect()} == {
        (f"k{s}", f"k{d}", t) for s, d, t, *_ in edges
        if f"k{s}" in want and f"k{d}" in want}
