"""P/R verification of the Python fixtures against @ast annotations."""

import pytest

from harness import graph_index_for_repo, verify_fixture

PY_FIXTURES = ["python/web", "python/data_science", "python/cli",
               "python/services", "python/module_calls"]


@pytest.fixture(scope="module")
def py_graph(spark):
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.source import fixture_source_df

    src = fixture_source_df(spark, {f: "python" for f in PY_FIXTURES})
    g = build_graph(spark, src)
    nodes = g.nodes.persist()
    edges = g.edges.persist()
    nodes.count(), edges.count()
    return nodes, edges


@pytest.mark.parametrize("fixture", PY_FIXTURES)
def test_python_fixture(py_graph, fixture):
    nodes, edges = py_graph
    gi = graph_index_for_repo(nodes, edges, f"fixtures/{fixture}")
    failures, items = verify_fixture(fixture, "python", gi)
    score = 1 - len(failures) / max(items, 1)
    msg = "\n".join(failures[:60])
    assert score >= 0.95, f"P/R {score:.3f} ({len(failures)}/{items} failed)\n{msg}"


def test_no_surrogate_leak(py_graph):
    """The link/prune plane joins on 8-byte xxhash64 key surrogates
    (pipeline.EDGE_COLS_H); the PUBLIC graph schema must stay string-keyed —
    surrogate columns must never reach graph_nodes/graph_edges."""
    nodes, edges = py_graph
    assert not {"key_h", "src_h", "dst_h"} & set(nodes.columns), nodes.columns
    assert not {"key_h", "src_h", "dst_h"} & set(edges.columns), edges.columns
    assert {"src_key", "dst_key", "edge_type"} <= set(edges.columns)
    assert "node_key" in nodes.columns


def test_sha256_invariant(spark, py_graph):
    """File nodes carry hash == sha2(source.content, 256) per row."""
    from pyspark.sql import functions as F

    from stakgraph_spark.source import fixture_source_df

    nodes, _ = py_graph
    src = fixture_source_df(spark, {f: "python" for f in PY_FIXTURES})
    files = nodes.where(F.col("node_type") == "File").select("file", "hash")
    joined = (src.withColumn("expect", F.sha2(F.coalesce("content", F.lit("")), 256))
              .join(files, src.path == files.file, "inner"))
    bad = joined.where(F.col("hash") != F.col("expect")).count()
    total = joined.count()
    assert total > 0
    assert bad == 0
