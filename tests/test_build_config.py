"""build_graph validates its environment knobs before any Spark work."""

import pytest


@pytest.mark.parametrize("value", ["0", "-2", "abc", "2.5", ""])
def test_subunion_k_rejected(spark, monkeypatch, value):
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.schema import SOURCE_SCHEMA

    monkeypatch.setenv("STAKGRAPH_SUBUNION_K", value)
    with pytest.raises(ValueError, match="STAKGRAPH_SUBUNION_K"):
        build_graph(spark, spark.createDataFrame([], SOURCE_SCHEMA))


def test_subunion_k_parsed(monkeypatch):
    from stakgraph_spark.pipeline import _subunion_k

    monkeypatch.delenv("STAKGRAPH_SUBUNION_K", raising=False)
    assert _subunion_k() == 5
    monkeypatch.setenv("STAKGRAPH_SUBUNION_K", "3")
    assert _subunion_k() == 3
