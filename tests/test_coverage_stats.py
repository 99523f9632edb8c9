"""Coverage-tier read operator (lang/graphs/coverage/*.rs parity): per-lang
unit/integration/e2e coverage percentages over a built fixture graph."""


def test_coverage_tiers_go(spark):
    from harness import source_df
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.query import coverage_stats

    g = build_graph(spark, source_df(spark, {"go": "go"}))
    rows = {(r["lang"], r["tier"]): r
            for r in coverage_stats(g.nodes, g.edges).collect()}

    unit = rows[("go", "unit")]
    assert unit["total_targets"] > 0
    assert unit["total_tests"] > 0
    assert 0 < unit["covered"] <= unit["total_targets"]
    assert unit["pct"] == round(100.0 * unit["covered"]
                                / unit["total_targets"], 2)

    e2e = rows.get(("go", "e2e"))
    if e2e is not None:
        assert e2e["covered"] <= e2e["total_targets"]
