"""Library-node extraction from package manifests (get_libs stage parity,
reference ast/src/builder/stages.rs:16-58 + testing/bash_toml/mod.rs:56-85
assertions adapted per manifest format)."""

import pytest

from harness import needs_reference

LIB_FIXTURES = {"rust": "rust", "go": "go", "python/web": "python",
                "react": "react"}


@pytest.fixture(scope="module")
def lib_graph(spark):
    from harness import source_df
    from stakgraph_spark.pipeline import build_graph

    src = source_df(spark, LIB_FIXTURES)
    g = build_graph(spark, src)
    nodes = g.nodes.persist()
    edges = g.edges.persist()
    nodes.count(), edges.count()
    return nodes, edges


def _libs(nodes, repo):
    rows = (nodes.where((nodes.node_type == "Library")
                        & (nodes.repo == f"fixtures/{repo}"))
            .select("name", "file", "meta").collect())
    return {r["name"]: (r["meta"] or {}) for r in rows}


@needs_reference
def test_rust_cargo_libraries(lib_graph):
    nodes, _ = lib_graph
    libs = _libs(nodes, "rust")
    assert "serde" in libs and libs["serde"].get("version") == "1.0.219"
    assert "tokio" in libs and libs["tokio"].get("version") == "1.44.1"
    assert libs.get("axum", {}).get("version") == "0.6.20"
    # [dev-dependencies] table is NOT matched by the reference lib_query
    assert libs.get("reqwest", {}).get("version") == "0.11"
    assert "version" not in libs  # the version pair itself is skipped


@needs_reference
def test_go_mod_libraries(lib_graph):
    nodes, _ = lib_graph
    libs = _libs(nodes, "go")
    assert libs.get("gorm.io/gorm", {}).get("version") == "v1.25.12"
    assert libs.get("github.com/go-chi/chi", {}).get("version") == "v1.5.5"
    assert libs.get("github.com/rs/cors", {}).get("version") == "v1.11.1"


@needs_reference
def test_python_requirements_libraries(lib_graph):
    nodes, _ = lib_graph
    libs = _libs(nodes, "python/web")
    for name in ("numpy", "tensorflow", "scikit-learn", "pandas"):
        assert name in libs, f"missing {name}"


@needs_reference
def test_ts_package_json_libraries(lib_graph):
    nodes, _ = lib_graph
    libs = _libs(nodes, "react")
    assert libs.get("react", {}).get("version") == "^19.0.0"
    assert "axios" in libs
    assert "react-router-dom" in libs


def test_pkg_file_contains_library(lib_graph):
    nodes, edges = lib_graph
    lib_keys = {r["node_key"] for r in
                nodes.where(nodes.node_type == "Library")
                .select("node_key").collect()}
    assert lib_keys
    file_keys = {r["node_key"] for r in
                 nodes.where(nodes.node_type == "File")
                 .select("node_key").collect()}
    contained = (edges.where(edges.edge_type == "Contains")
                 .select("src_key", "dst_key").collect())
    covered = {e["dst_key"] for e in contained
               if e["dst_key"] in lib_keys and e["src_key"] in file_keys}
    assert covered == lib_keys, "every Library must hang off its pkg File"
