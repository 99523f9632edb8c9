"""USES edges: cascade-unresolved calls into imported libraries link
Function -USES-> Library (btreemap_graph.rs:421-431; graphs/mod.rs:223-229).
"""

from pyspark.sql import functions as F

from harness import needs_reference


@needs_reference
def test_go_fixture_gorm_uses(spark):
    """db.go calls gorm.Open / imports gorm.io/gorm declared in go.mod ->
    a USES edge into the gorm Library node."""
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.source import fixture_source_df

    g = build_graph(spark, fixture_source_df(spark, {"go": "go"}))
    uses = g.edges.where("edge_type = 'Uses'")
    lib_targets = (uses.join(
        g.nodes.select(F.col("node_key").alias("dst_key"),
                       F.col("name").alias("lib_name"),
                       F.col("node_type").alias("dst_type")), "dst_key")
        .where("dst_type = 'Library'"))
    names = {r["lib_name"] for r in lib_targets.select("lib_name").collect()}
    assert any("gorm.io/gorm" == n for n in names), f"gorm USES missing: {names}"


def test_python_synthetic_requests_uses(spark):
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.schema import SOURCE_SCHEMA

    rows = [
        {"repo": "r", "path": "requirements.txt", "commit": "c",
         "lang": "python", "content": "requests==2.31.0\nflask\n"},
        {"repo": "r", "path": "app.py", "commit": "c", "lang": "python",
         "content": ("import requests\n\n\n"
                     "def fetch():\n"
                     "    return requests.request_json('http://x')\n")},
    ]
    g = build_graph(spark, spark.createDataFrame(rows, SOURCE_SCHEMA))
    uses = (g.edges.where("edge_type = 'Uses'")
            .join(g.nodes.select(F.col("node_key").alias("src_key"),
                                 F.col("name").alias("caller")), "src_key")
            .join(g.nodes.select(F.col("node_key").alias("dst_key"),
                                 F.col("name").alias("lib")), "dst_key"))
    pairs = {(r["caller"], r["lib"]) for r in uses.collect()}
    # Library node names keep the raw manifest word (reference parity)
    assert ("fetch", "requests==2.31.0") in pairs, f"USES pairs: {pairs}"
    # an unresolved call NOT bound to a library import must not produce USES
    assert all(lib in ("requests==2.31.0", "flask") for _, lib in pairs)
