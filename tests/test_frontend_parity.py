"""FrontendTester parity — mirrors the reference's client-side tester
(/root/reference/ast/src/testing/test_frontend.rs:34-200, run for
react/kotlin/swift per testing/mod.rs:52-66):

* a Language node named after the language exists
* a package file File node exists (pkg_files per langspec)
* a DataModel whose name contains "Person" exists
* Requests GET /people and POST /person are findable via find_resource_nodes
* components/pages checks apply to typescript-kind clients only (react)
"""

import pytest

from pyspark.sql import functions as F

from harness import needs_reference

# client -> (fixtures dict, pkg file names); swift builds BOTH apps as ONE
# repo, exactly like FrontendTester::from_repo("src/testing/swift")
CLIENTS = {
    "react": ({"react": "react"}, ("package.json",)),
    "kotlin": ({"kotlin": "kotlin"}, ("build.gradle.kts", "build.gradle")),
    "swift": ({"swift": "swift"}, ("Package.swift", "Podfile")),
}


@pytest.fixture(scope="module")
def client_graphs(spark):
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.source import fixture_source_df

    out = {}
    for client, (fixtures, _) in CLIENTS.items():
        g = build_graph(spark, fixture_source_df(spark, fixtures))
        nodes = g.nodes.persist()
        nodes.count()
        out[client] = (nodes, g.edges)
    return out


@needs_reference
@pytest.mark.parametrize("client", list(CLIENTS))
def test_frontend(client_graphs, client):
    from stakgraph_spark.query import find_resource_nodes

    nodes, edges = client_graphs[client]
    _, pkg_names = CLIENTS[client]

    # test_language
    langs = {r["name"] for r in
             nodes.where("node_type = 'Language'").select("name").collect()}
    assert client in langs, f"Language node {client} missing ({langs})"

    # test_package_file
    pkg = nodes.where("node_type = 'File'").where(
        F.col("name").isin(list(pkg_names)))
    assert pkg.count() > 0, f"no package file among {pkg_names}"

    # test_data_model
    dm = nodes.where("node_type = 'DataModel'").where(
        F.col("name").contains("Person"))
    assert dm.count() >= 1, "no DataModel containing 'Person'"

    # test_components / test_pages (typescript-kind clients only)
    if client == "react":
        fn_names = {r["name"] for r in
                    nodes.where("node_type = 'Function'")
                    .where(F.col("name").isin("NewPerson", "People"))
                    .select("name").collect()}
        assert fn_names == {"NewPerson", "People"}, f"components: {fn_names}"
        page_names = {r["name"] for r in
                      nodes.where("node_type = 'Page'")
                      .where(F.col("name").isin("/new-person", "/people"))
                      .select("name").collect()}
        assert page_names == {"/new-person", "/people"}, f"pages: {page_names}"

    # test_requests
    for verb, path in (("GET", "/people"), ("POST", "/person")):
        hits = find_resource_nodes(nodes, verb, path, node_type="Request")
        assert hits.count() > 0, f"request {verb} {path} not found"
