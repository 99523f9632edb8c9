"""Canonicalization / pruning passes (SURVEY.md §2D).

All anti-joins; key-level semantics mirror btreemap_graph.rs exactly.

Node identity inside this plane is the canonical node key (`node_key` on
nodes, `src_key` / `dst_key` on edges), as everywhere else in the graph.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ckpt import ckpt as _ckpt

# per-language clean_graph directives (dispatch ast/src/builder/stages.rs:628-640)
#   dedup:   remove <remove_type> when a <keep_type> with same (name,file) has
#            OPERAND edges   (python.rs clean_graph)
#   filter:  remove <parent_type> whose name never appears as any
#            <child_type>'s meta[<key>]   (go.rs clean_graph "operand")
# prune_graph computes every directive's drop set independently, which
# equals running them in sequence only while no directive reads a node
# another directive removes: each reads and removes nodes of its own
# language only, and a keep_type is never a Function.
CLEAN_DIRECTIVES: dict[str, list[tuple[str, ...]]] = {
    "python": [("dedup", "DataModel", "Class")],
    "go": [("filter", "Class", "Function", "operand")],
    "rust": [("filter", "Class", "Function", "operand")],
    # react_ts clean_graph mirrors are added with the typescript extractor
}


def dedup_datamodels_vs_classes(nodes: DataFrame, edges: DataFrame,
                                removed: DataFrame, lang: str,
                                remove_t: str, keep_t: str) -> DataFrame:
    """node_key of each <remove_t> for which a <keep_t> with the same (name,
    file) has OPERAND edges (btreemap_graph.rs:718-754).  The reference's
    remove_node drops a node's edges with it, so an Operand edge whose dst
    Function is in `removed` (orphan-pruned) is no keeper evidence."""
    operand_srcs = (edges.where(F.col("edge_type") == "Operand")
                    .join(removed.withColumnRenamed("node_key", "dst_key"),
                          "dst_key", "left_anti")
                    .select(F.col("src_key")).distinct())
    keepers = (nodes.where((F.col("node_type") == keep_t) & (F.col("lang") == lang))
               .join(operand_srcs,
                     nodes["node_key"] == operand_srcs["src_key"], "leftsemi")
               .select("repo", "lang", "name", "file").distinct())
    dms = nodes.where((F.col("node_type") == remove_t) & (F.col("lang") == lang))
    return dms.join(keepers, ["repo", "lang", "name", "file"],
                    "leftsemi").select("node_key")


def filter_parents_without_children(nodes: DataFrame, removed: DataFrame,
                                    lang: str, parent_t: str, child_t: str,
                                    meta_key: str) -> DataFrame:
    """node_key of each <parent_t> whose name never appears as the
    meta[<meta_key>] of a <child_t> outside `removed`
    (btreemap_graph.rs:664-706; name-only matching)."""
    child_names = (nodes.where((F.col("node_type") == child_t)
                               & (F.col("lang") == lang))
                   .join(removed, "node_key", "left_anti")
                   .select("repo", "lang",
                           F.element_at("meta", meta_key).alias("name"))
                   .where(F.col("name").isNotNull()).distinct())
    parents = nodes.where((F.col("node_type") == parent_t)
                          & (F.col("lang") == lang))
    return parents.join(child_names, ["repo", "lang", "name"],
                        "left_anti").select("node_key")


def prune_orphan_functions(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """btreemap_graph.rs:756-885:
    A. NestedIn functions (or var-nested) outside tests with no incoming
       HANDLER/CALLS/RENDERS and no outgoing CALLS/HANDLER
    B. functions spatially inside test ranges (unconditional)
    C. var-nested functions in test files (unconditional)
    """
    funcs = nodes.where(F.col("node_type") == "Function") \
                 .select("node_key", "repo", "lang", "file", "start", "end")
    func_keys = funcs.select("node_key")

    nested = edges.where(F.col("edge_type") == "NestedIn")
    # NestedIn src must be a Function
    nested = nested.join(func_keys.withColumnRenamed("node_key", "src_key"),
                         "src_key", "leftsemi")
    nested_in_func = nested.join(
        func_keys.withColumnRenamed("node_key", "dst_key"), "dst_key",
        "leftsemi").select("src_key").distinct()
    # var parents: the dst node_type is Var
    var_keys = (nodes.where(F.col("node_type") == "Var")
                .select(F.col("node_key").alias("dst_key")))
    nested_in_var = nested.join(var_keys, "dst_key", "leftsemi") \
        .select("src_key").distinct()
    # A-candidates: nested-in-function minus those whose parent is a var
    a_cand = nested_in_func.join(nested_in_var, "src_key", "left_anti") \
                           .unionByName(nested_in_var).distinct()

    # B: functions inside test spans (same file, start>=ts, end<=te)
    tests = nodes.where(F.col("node_type").isin(
        "UnitTest", "IntegrationTest", "E2eTest")).select(
        "repo", "lang", F.col("file").alias("t_file"),
        F.col("start").alias("ts"), F.col("end").alias("te"))
    in_test = (funcs.join(tests, ["repo", "lang"])
               .where((F.col("file") == F.col("t_file"))
                      & (F.col("start") >= F.col("ts"))
                      & (F.col("end") <= F.col("te")))
               .select(F.col("node_key").alias("src_key")).distinct())

    # C: var-nested functions living in test files
    test_file = (F.col("file").rlike(r"(^|/)tests?(/|$)")
                 | F.col("file").rlike(r"_test\.[a-z]+$")
                 | F.col("file").rlike(r"\.(test|spec)\.[a-z]+$"))
    var_nested_testfile = (nested_in_var
                           .join(funcs.where(test_file)
                                 .select(F.col("node_key").alias("src_key")),
                                 "src_key", "leftsemi"))

    a_cand = a_cand.join(in_test, "src_key", "left_anti") \
                   .join(var_nested_testfile, "src_key", "left_anti")

    has_incoming = (edges.where(F.col("edge_type").isin("Handler", "Calls", "Renders"))
                    .select(F.col("dst_key").alias("src_key")).distinct())
    has_outgoing = (edges.where(F.col("edge_type").isin("Calls", "Handler"))
                    .select("src_key").distinct())
    a_remove = a_cand.join(has_incoming, "src_key", "left_anti") \
                     .join(has_outgoing, "src_key", "left_anti")

    remove = a_remove.unionByName(in_test).unionByName(var_nested_testfile) \
                     .distinct().withColumnRenamed("src_key", "node_key")
    return remove


def prune_graph(slim: DataFrame, edges: DataFrame, full: DataFrame,
                directives: dict) -> tuple[DataFrame, DataFrame]:
    """`slim` is the materialized node view the removal logic reads (no
    bodies); `edges` must arrive deduplicated + materialized (the
    pipeline's union checkpoint applies the BTreeSet semantics of
    btreemap_graph.rs:51-55); `full` is a node table whose node_key set
    contains slim's; `directives` is the subset of CLEAN_DIRECTIVES whose
    node types the input has (the pipeline drops an entry whose drop set
    would be empty).  This materializes one table, the surviving `keys`,
    and returns `full` and `edges` filtered by it as lazy frames for the
    caller to finish and materialize.

    The orphan prune and each directive yield a drop set read from slim;
    `keys` is slim minus their union, so each directive adds one subtree to
    the plan.  Edges touching removed nodes are dropped solely by the final
    endpoint semi-joins against `keys`."""
    removed = prune_orphan_functions(slim, edges)
    drops = [removed]
    for lang, entries in directives.items():
        for kind, *args in entries:
            if kind == "dedup":
                drops.append(dedup_datamodels_vs_classes(
                    slim, edges, removed, lang, *args))
            elif kind == "filter":
                drops.append(filter_parents_without_children(
                    slim, removed, lang, *args))

    keys = _ckpt(slim.join(reduce(DataFrame.unionByName, drops), "node_key",
                           "left_anti").select("node_key"))
    # `keys` already encodes EVERY drop (slim was built from the filtered
    # node view, then lost every drop set), so the returned frames filter
    # the RAW CHECKPOINTED tables by keys alone — re-running the anti-join
    # subtrees (removed / instance-filter / endpoint-drop) in the final
    # jobs recomputed each of them a second time and deepened the plans
    # Catalyst had to re-optimize (measured: 6.3 s zero-task planning gap
    # entering the final jobs).
    nodes = full.join(keys, "node_key", "leftsemi")

    # drop edges whose endpoints no longer exist (dangling after prunes);
    # Neo4j MERGE enforces the consistency implicitly, the BTreeMap via
    # remove_node.  An edge whose endpoint was removed at ANY prune step
    # has that endpoint's key absent from `keys`, so these semi-joins
    # subsume the anti-joins.
    edges = (edges
             .join(keys.withColumnRenamed("node_key", "src_key"), "src_key",
                   "leftsemi")
             .join(keys.withColumnRenamed("node_key", "dst_key"), "dst_key",
                   "leftsemi"))
    return nodes, edges
