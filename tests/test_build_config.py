"""build_graph runs every job it launches on Spark's interpreted evaluators
whatever the caller's codegen settings are, constructs only the consumers its
census admits without changing the graph, and builds one graph from one input
whatever the partitioning or row order."""

import contextlib

import pytest

from test_plan_size import LANG, SOURCE

MODE = "spark.sql.codegen.factoryMode"


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
    build_graph, graph digest, build metrics, the GraphResult)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from perfbench.harness import graph_digest
    from stakgraph_spark.pipeline import Census, build_graph, interpreted
    from stakgraph_spark.schema import RAW_SCHEMA

    src = _source(spark)
    # Spark has no interpreted form of the row joiner a partial hash
    # aggregation emits its rows with; it generates one small class per
    # (key, buffer) shape.  The build's only such aggregation is the
    # per-repo minimum path depth in detect_packages (string key, int
    # buffer): compile that shape first, so the count below holds only
    # what the codegen mode governs.
    # Likewise an Observation's collect_set buffer (the build's census) is
    # serialized after its task ends, outside the session's settings, with
    # one generated projection per buffer shape: compile the census's.
    raw_row = {"rec": "node", "lang": "go", "node_type": "Function"}
    raw = spark.createDataFrame(
        [tuple(raw_row.get(f.name) for f in RAW_SCHEMA.fields)], RAW_SCHEMA)
    with interpreted(spark):
        (src.groupBy("repo")
         .agg(F.min(F.size(F.split("path", "/")))).collect())
        obs = Observation()
        raw.observe(obs, Census.column().alias("kinds")).collect()
        assert obs.get["kinds"]
    before = _compiled(spark)
    g = build_graph(spark, src)
    compiled = _compiled(spark) - before
    return compiled, graph_digest(g.nodes, g.edges), g.metrics, g


def test_build_compiles_no_code(interpreted_build):
    compiled = interpreted_build[0]
    assert compiled == 0, f"{compiled} classes compiled inside build_graph"


def test_build_returns_finished_tables(interpreted_build):
    """Both returned tables are materialized inside the build: reading
    them runs no join and no shuffle, so no job of the graph runs under
    the caller's settings."""
    g = interpreted_build[3]
    for df in (g.nodes, g.edges):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Exchange" not in plan, plan


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


# ---------------------------------------------------------------- census

def _corpus(spark):
    """A tiny generated corpus over all 15 languages."""
    from perfbench.corpus import Shape, make_corpus
    from stakgraph_spark.schema import SOURCE_SCHEMA

    corpus = make_corpus(7, Shape(repos=3, files_per_slice=1,
                                  langs_per_repo=5))
    assert len({r["lang"] for r in corpus.rows}) == 15
    return spark.createDataFrame(corpus.rows, SOURCE_SCHEMA)


def _census(metrics) -> dict:
    return next(m for m in metrics if m["stage"] == "census")


def test_census_reported(interpreted_build):
    """The census entry names what the input holds and what it skipped;
    every entry keeps its stage and t."""
    metrics = interpreted_build[2]
    assert all({"stage", "t"} <= m.keys() for m in metrics), metrics
    from stakgraph_spark.pipeline import GATES

    census = _census(metrics)
    assert ("node", "go", "Function") in census["kinds"], census
    # no IntegrationTest in the source: no indirect-test table; the call
    # family has no gate and is always built
    assert "indirect_tests" in census["skipped"], census
    assert "calls" not in census["skipped"], census
    assert all(s in GATES or s.startswith("prune.")
               for s in census["skipped"]), census


@pytest.mark.parametrize("source", ["three_langs", "all_langs"])
def test_census_gates_exact(spark, interpreted_build, monkeypatch, source):
    """A build with every gate open (the census reports every kind as
    present) has the same nodes and edges as the gated build."""
    from perfbench.harness import graph_digest, same_graph
    from stakgraph_spark import pipeline

    if source == "three_langs":
        src, gated = _source(spark), interpreted_build[1]
    else:
        src = _corpus(spark)
        g = pipeline.build_graph(spark, src)
        assert _census(g.metrics)["skipped"]
        gated = graph_digest(g.nodes, g.edges)
    monkeypatch.setattr(pipeline.Census, "has", lambda self, *term: True)
    g = pipeline.build_graph(spark, src)
    assert _census(g.metrics)["skipped"] == []
    assert same_graph(graph_digest(g.nodes, g.edges), gated)


def test_gate_kinds_exist():
    """Every kind a gate names is one the extractors can emit: a misspelt
    gate would drop its consumer on every input."""
    import pathlib
    import re

    from stakgraph_spark import prune
    from stakgraph_spark.langspec import LANGS as LANG_NAMES
    from stakgraph_spark.pipeline import GATES
    from stakgraph_spark.schema import NODE_TYPES

    text = "".join(p.read_text() for p in (
        pathlib.Path(prune.__file__).parent / "extract").glob("*.py"))
    mention_kinds = (
        set(re.findall(r'^M_[A-Z_]+\s*=\s*"(\w+)"', text, re.M))
        | set(re.findall(r'mention\("(\w+)"', text)))
    assert {"call", "import", "test_class"} <= mention_kinds
    for name, alternatives in GATES.items():
        assert alternatives, name
        for alt in alternatives:
            for rec, kind, langs in alt:
                if rec == "node":
                    assert kind in NODE_TYPES, (name, kind)
                elif rec == "mention":
                    assert kind in mention_kinds, (name, kind)
                else:
                    assert (rec, kind) == ("fat", None), (name, rec, kind)
                assert set(langs) <= set(LANG_NAMES), (name, langs)
    for lang, entries in prune.CLEAN_DIRECTIVES.items():
        assert lang in LANG_NAMES
        for d in entries:
            assert d[1] in NODE_TYPES, (lang, d)


# ---------------------------------------------------------------- layout

# Six repos share python and go: each yields a Language node of the same
# key.  Each holds lib/util with a python and a go file: every (repo, lang)
# yields a Directory node of the same key, and a Contains edge from lib that
# differs only in repo and lang.
REPOS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
LAYOUT_ROWS = (
    [("alpha", p, LANG[p.rsplit(".", 1)[1]], c) for p, c in SOURCE]
    + [row for r in REPOS for row in (
        (r, f"lib/util/{r}.py", "python",
         f"def {r}_conv(x):\n    return x\n"),
        (r, f"lib/util/{r}.go", "go",
         f"package util\n\nfunc {r.title()}() int {{\n\treturn 1\n}}\n"))])


def _layout_build(spark, partitions: int, rows):
    from perfbench.harness import graph_digest
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.schema import SOURCE_SCHEMA

    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, str(partitions))
    try:
        g = build_graph(spark, spark.createDataFrame(
            [(r, p, "c0", lang, c) for r, p, lang, c in rows],
            SOURCE_SCHEMA))
        return g, graph_digest(g.nodes, g.edges)
    finally:
        spark.conf.set(conf, prev)


def test_graph_independent_of_layout(spark):
    """One input built at 1, 7 and 32 shuffle partitions, and in reversed
    row order, gives one graph, every edge column included: each duplicate
    key keeps the least row under the pipeline's survivor order."""
    builds = {name: _layout_build(spark, parts, rows) for name, parts, rows in
              [("1", 1, LAYOUT_ROWS), ("7", 7, LAYOUT_ROWS),
               ("32", 32, LAYOUT_ROWS), ("7 reversed", 7, LAYOUT_ROWS[::-1])]}
    g, first = builds["1"]
    for name, (_, d) in builds.items():
        for part in ("nodes", "edges", "edges_full_row"):
            assert d[part] == first[part], (name, part)

    nodes = {r["node_key"]: r for r in g.nodes.select(
        "node_key", "node_type", "name", "repo", "lang").collect()}
    edges = g.edges.select("src_key", "dst_key", "edge_type", "repo",
                           "lang").collect()

    def one(node_type, name):
        (row,) = [r for r in nodes.values()
                  if (r["node_type"], r["name"]) == (node_type, name)]
        return row

    # every repo reaches the python Language node; its repo is the least
    py = one("Language", "python")
    assert {nodes[e["src_key"]]["name"] for e in edges
            if (e["edge_type"], e["dst_key"]) == ("Of", py["node_key"])} \
        == set(REPOS)
    assert py["repo"] == "alpha"
    # lib/util holds go and python files; the Directory node and the
    # Contains edge from lib each keep the least (repo, lang)
    util = one("Directory", "util")
    contains = [e for e in edges if e["edge_type"] == "Contains"]
    assert {nodes[e["dst_key"]]["lang"] for e in contains
            if e["src_key"] == util["node_key"]} == {"go", "python"}
    assert (util["repo"], util["lang"]) == ("alpha", "go")
    (lib_util,) = [e for e in contains if e["dst_key"] == util["node_key"]]
    assert nodes[lib_util["src_key"]]["name"] == "lib"
    assert (lib_util["repo"], lib_util["lang"]) == ("alpha", "go")


def test_identity_is_the_key_string(spark, monkeypatch, interpreted_build):
    """Nodes and edges are identified by their canonical key strings, never
    by a hash of them: with every xxhash64 in the build returning one
    constant, the collected node keys and (src_key, dst_key, edge_type)
    triples equal an unpatched build's (rows, not graph_digest, which
    hashes too)."""
    from pyspark.sql import functions as F

    from stakgraph_spark.pipeline import build_graph

    def identity(g):
        return (sorted(r[0] for r in g.nodes.select("node_key").collect()),
                sorted(map(tuple, g.edges.select(
                    "src_key", "dst_key", "edge_type").collect())))

    want = identity(interpreted_build[3])
    monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(0).cast("long"))
    assert identity(build_graph(spark, _source(spark))) == want
