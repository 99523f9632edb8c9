"""build_graph validates its environment knobs before any Spark work, and runs
every job it launches on Spark's interpreted evaluators whatever the caller's
codegen settings are."""

import contextlib

import pytest

from test_plan_size import LANG, SOURCE

MODE = "spark.sql.codegen.factoryMode"


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


# ---------------------------------------------------------------- codegen

def _source(spark):
    from stakgraph_spark.schema import SOURCE_SCHEMA

    return spark.createDataFrame(
        [("cfg", p, "c0", LANG[p.rsplit(".", 1)[1]], c) for p, c in SOURCE],
        SOURCE_SCHEMA)


def _compiled(spark) -> int:
    """Janino compilations so far in this JVM (cache hits not counted)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def interpreted_build(spark):
    """One build of the 3-language source: (classes compiled inside
    build_graph, graph digest)."""
    from pyspark.sql import functions as F

    from perfbench.harness import graph_digest
    from stakgraph_spark.pipeline import build_graph, interpreted

    src = _source(spark)
    # Spark has no interpreted form of the row joiner a partial hash
    # aggregation emits its rows with; it generates one small class per
    # (key, buffer) shape.  The build's only such aggregation is the
    # per-repo minimum path depth in detect_packages (string key, int
    # buffer): compile that shape first, so the count below holds only
    # what the codegen mode governs.
    with interpreted(spark):
        (src.groupBy("repo")
         .agg(F.min(F.size(F.split("path", "/")))).collect())
    before = _compiled(spark)
    g = build_graph(spark, src)
    compiled = _compiled(spark) - before
    return compiled, graph_digest(g.nodes, g.edges)


def test_build_compiles_no_code(interpreted_build):
    compiled, _ = interpreted_build
    assert compiled == 0, f"{compiled} classes compiled inside build_graph"


def test_interpreted_graph_identical(spark, interpreted_build, monkeypatch):
    """Same graph as a build on generated code: nodes over every column,
    edges over (src_key, dst_key, edge_type)."""
    from perfbench.harness import graph_digest, same_graph
    from stakgraph_spark import pipeline

    monkeypatch.setattr(pipeline, "interpreted",
                        lambda spark: contextlib.nullcontext())
    g = pipeline.build_graph(spark, _source(spark))
    assert same_graph(graph_digest(g.nodes, g.edges), interpreted_build[1])


@pytest.mark.parametrize("prior", [None, "FALLBACK"])
@pytest.mark.parametrize("fail", [False, True])
def test_codegen_mode_restored(spark, monkeypatch, prior, fail):
    """The build sees NO_CODEGEN; afterwards the caller's setting is back,
    unset staying unset, whether the build returned or raised."""
    from stakgraph_spark import pipeline
    from stakgraph_spark.schema import SOURCE_SCHEMA

    seen = []

    def fake_build(spark, *args):
        seen.append(spark.conf.get(MODE))
        if fail:
            raise RuntimeError("build failed")
        return "graph"

    monkeypatch.setattr(pipeline, "_build", fake_build)
    if prior is None:
        spark.conf.unset(MODE)
    else:
        spark.conf.set(MODE, prior)
    try:
        src = spark.createDataFrame([], SOURCE_SCHEMA)
        with pytest.raises(RuntimeError) if fail \
                else contextlib.nullcontext():
            assert pipeline.build_graph(spark, src) == "graph"
        assert seen == ["NO_CODEGEN"]
        assert spark.conf.getAll.get(MODE) == prior
    finally:
        spark.conf.unset(MODE)


def test_runner_link_stage_interpreted(spark, monkeypatch, tmp_path):
    """The runner's raw checkpoint, build and graph writes run under the
    same setting, and a failed build leaves the caller's value in place."""
    from stakgraph_spark import pipeline
    from stakgraph_spark.runner import PipelineRunner

    seen = []

    def failing_build(spark, source, raw=None):
        seen.append(spark.conf.get(MODE))
        raise RuntimeError("build failed")

    monkeypatch.setattr(pipeline, "build_graph", failing_build)
    spark.conf.set(MODE, "FALLBACK")
    try:
        with pytest.raises(RuntimeError, match="build failed"):
            PipelineRunner(spark, str(tmp_path)).run(_source(spark))
        assert seen == ["NO_CODEGEN"]
        assert spark.conf.getAll.get(MODE) == "FALLBACK"
    finally:
        spark.conf.unset(MODE)
