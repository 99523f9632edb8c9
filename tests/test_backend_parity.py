"""BackendTester parity (reference ast/src/testing/test_backend.rs:40-280):
for every implemented backend language, the graph must contain the Language
node, the package file, the Person data model, the GET person/:param and
POST person endpoints, and a handler whose transitive CALLS closure reaches
a function that CONTAINS the data model — the k-hop traversal operator
drives the transitive check."""

import pytest

from harness import needs_reference

# (fixture, lang, data_model_name(Person), pkg file)
BACKENDS = [
    ("go", "go", "Person", "go.mod"),
    ("python/web", "python", "Person", "requirements.txt"),
    ("ruby", "ruby", "people", "Gemfile"),
    ("rust", "rust", "Person", "Cargo.toml"),
    ("typescript", "typescript", "Person", "package.json"),
    ("java", "java", "Person", "pom.xml"),
]

EXPECTED_ENDPOINTS = [("GET", "/person/:param"), ("POST", "/person")]


@pytest.fixture(scope="module")
def backend_graph(spark):
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.source import fixture_source_df

    src = fixture_source_df(spark, {f: l for f, l, _, _ in BACKENDS})
    g = build_graph(spark, src)
    nodes = g.nodes.persist()
    edges = g.edges.persist()
    nodes.count(), edges.count()
    return nodes, edges


@needs_reference
@pytest.mark.parametrize("fixture,lang,dm,pkg", BACKENDS,
                         ids=[b[0] for b in BACKENDS])
def test_backend(backend_graph, fixture, lang, dm, pkg):
    from pyspark.sql import functions as F

    from stakgraph_spark.link.api import normalize_backend
    from stakgraph_spark.query import (find_resource_nodes,
                                       functions_using_data_model,
                                       handlers_for_endpoints, k_hop)

    nodes, edges = backend_graph
    repo = f"fixtures/{fixture}"
    n = nodes.where(nodes.repo == repo)
    e = edges.where(edges.repo == repo)

    # language node
    assert n.where((n.node_type == "Language") & (n.name == lang)).count() >= 1

    # package file
    if pkg is not None:
        assert n.where((n.node_type == "File") & (n.name == pkg)).count() >= 1

    # data model
    assert (n.where(n.node_type == "DataModel")
            .where(F.lower(F.col("name")).contains(dm.lower())).count() >= 1), \
        f"data model {dm} missing"

    dm_users = functions_using_data_model(n, e, dm)

    for verb, path in EXPECTED_ENDPOINTS:
        norm = n.sparkSession.range(1).select(
            normalize_backend(F.lit(path)).alias("p")).collect()[0]["p"]
        eps = find_resource_nodes(
            n.withColumn("name", normalize_backend(F.col("name"))), verb, norm)
        assert eps.count() >= 1, f"{verb} {path} endpoint missing"

        handlers = handlers_for_endpoints(n, e, eps)
        assert handlers.count() >= 1, f"{verb} {path} handler missing"

        # transitive: handler -CALLS*-> function -CONTAINS-> DataModel
        reach = k_hop(e, handlers.select("node_key"), ["Calls"], max_hops=10)
        hit = reach.join(dm_users, "node_key", "leftsemi").count()
        assert hit >= 1, \
            f"{verb} {path}: no transitive path handler->...->{dm}"
