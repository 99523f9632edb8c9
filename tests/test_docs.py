"""docs (attach_comments) parity: the comment block ending <=2 rows above a
definition becomes node.docs, '@ast ' annotation lines filtered
(reference ast/src/lang/mod.rs:85-197, parse/format.rs:1443-1505)."""

import pytest

from harness import needs_reference

DOC_FIXTURES = {"go": "go", "rust": "rust"}


@pytest.fixture(scope="module")
def doc_graph(spark):
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.source import fixture_source_df

    src = fixture_source_df(spark, DOC_FIXTURES)
    g = build_graph(spark, src)
    nodes = g.nodes.persist()
    nodes.count()
    return nodes


def _docs_of(nodes, repo, node_type, name):
    rows = (nodes.where((nodes.repo == f"fixtures/{repo}")
                        & (nodes.node_type == node_type)
                        & (nodes.name == name))
            .select("docs").collect())
    assert rows, f"{node_type} {name} not found"
    return [r["docs"] for r in rows]

@needs_reference
def test_go_function_docs(doc_graph):
    docs = _docs_of(doc_graph, "go", "Function", "CreateOrEditPerson")
    assert any(d == "check that update owner_pub_key does in fact throws an error"
               for d in docs), docs


@needs_reference
def test_rust_struct_docs(doc_graph):
    # struct Person is extracted as Class and/or DataModel; either carries docs
    found = []
    for t in ("DataModel", "Class"):
        try:
            found += [d for d in _docs_of(doc_graph, "rust", t, "Person") if d]
        except AssertionError:
            pass
    assert any(d == "Represents a person record" for d in found), found


def test_ast_annotations_never_leak_into_docs(doc_graph):
    leaked = (doc_graph.where(doc_graph.docs.contains("@ast")).count())
    assert leaked == 0
