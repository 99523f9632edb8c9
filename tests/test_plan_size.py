"""Plan-size guard: every materialization in build_graph sees an analyzed
plan of bounded size, and prune's `keys` plan grows additively with
CLEAN_DIRECTIVES.  Chained anti-joins that re-read their predecessor
multiply a plan instead; Catalyst's driver-only planning time follows the
plan size, and at small scale it is most of a build's wall time."""

import pytest

# analyzed-plan lines of the largest materialization (the call cascade's,
# about 660 today); the chained prune plan it guards against was 5,459
PLAN_BOUND = 1300

SOURCE = [
    ("app.py",
     "class Store:\n"
     "    def put(self, x):\n"
     "        return save(x)\n"
     "\n"
     "def save(x):\n"
     "    return x\n"),
    ("main.go",
     "package main\n"
     "\n"
     "type Svc struct{}\n"
     "\n"
     "func (s *Svc) Run() int {\n"
     "\treturn helper()\n"
     "}\n"
     "\n"
     "func helper() int {\n"
     "\treturn 1\n"
     "}\n"),
    ("web/server.ts",
     'import express from "express";\n'
     "const app = express();\n"
     "const router = express.Router();\n"
     "function listUsers(req, res) {\n"
     "  res.json([]);\n"
     "}\n"
     'router.get("/users", listUsers);\n'
     'app.use("/api", router);\n'),
]
LANG = {"py": "python", "go": "go", "ts": "typescript"}

# integration test -> helper -> Request -> Endpoint, plus a manifest line
# whose trailing blank makes its Library body differ from the line's span
# (a fat companion row): this source's census opens the indirect-test and
# fat-body gates, so both joins reach the final node plan
INDIRECT_SOURCE = [
    ("app.py",
     "from fastapi import FastAPI\n"
     "app = FastAPI()\n"
     "\n"
     '@app.get("/widgets")\n'
     "def list_widgets():\n"
     "    return []\n"),
    ("helpers.py",
     "import requests\n"
     "\n"
     "def fetch_widgets():\n"
     '    return requests.get("/widgets")\n'),
    ("tests/integration/test_api.py",
     "from helpers import fetch_widgets\n"
     "\n"
     "def test_widgets_via_helper():\n"
     "    assert fetch_widgets() is not None\n"),
    ("requirements.txt", "fastapi==0.110.0 \nrequests==2.32.3\n"),
]


def _plan_lines(df) -> int:
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


@pytest.fixture
def plan_log(monkeypatch):
    """Analyzed-plan line count of every localCheckpoint, in call order."""
    from pyspark.sql.classic.dataframe import DataFrame

    log = []
    orig = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        log.append(_plan_lines(self))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return log


def _build(spark, rows, lang=None):
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.schema import SOURCE_SCHEMA

    return build_graph(spark, spark.createDataFrame(
        [("plans", p, "c0", lang or LANG[p.rsplit(".", 1)[1]], c)
         for p, c in rows], SOURCE_SCHEMA))


def test_build_graph_plans_bounded(spark, plan_log):
    g = _build(spark, SOURCE)
    eps = {r["name"] for r in
           g.nodes.where(g.nodes.node_type == "Endpoint").collect()}
    # the app.use prefix fact exists, so the endpoint-group rename ran
    # (and was materialized through ckpt)
    assert eps == {"/api/users"}, eps
    # the spy saw the whole build: this source's census gates out the
    # fat-body and indirect-test tables, and its 8 edge families fill two
    # sub-union groups, which leaves 14 materializations
    assert len(plan_log) >= 14, plan_log
    assert max(plan_log) <= PLAN_BOUND, sorted(plan_log)

    # here the finished node table's plan holds the indirect-test and
    # fat-body joins with their subtrees
    del plan_log[:]
    g = _build(spark, INDIRECT_SOURCE, lang="python")
    census = next(m for m in g.metrics if m["stage"] == "census")
    assert not {"indirect_tests", "fat_bodies"} & set(census["skipped"])
    (ep,) = g.nodes.where(g.nodes.node_type == "Endpoint").collect()
    assert ep["meta"]["indirect_test"] == "test_widgets_via_helper", ep
    # 13 materializations: both gates add joins to the finished node
    # table, not tables of their own
    assert len(plan_log) >= 13, plan_log
    assert max(plan_log) <= PLAN_BOUND, sorted(plan_log)


def test_prune_keys_plan_grows_additively(spark, plan_log, monkeypatch):
    from stakgraph_spark import prune
    from test_prune_equivalence import _mixed_fixture, _mk_edges, _mk_nodes

    nodes, edges = _mixed_fixture()
    nodes_df, edges_df = _mk_nodes(spark, nodes), _mk_edges(spark, edges)
    slim = nodes_df.drop("body")
    base = dict(prune.CLEAN_DIRECTIVES)
    extra = [("typescript", [("filter", "Class", "Function", "operand")]),
             ("java", [("filter", "Class", "Function", "operand")])]
    sizes = []
    for i in range(len(extra) + 1):
        monkeypatch.setattr(prune, "CLEAN_DIRECTIVES",
                            {**base, **dict(extra[:i])})
        del plan_log[:]
        prune.prune_graph(slim, edges_df, nodes_df, prune.CLEAN_DIRECTIVES)
        sizes.append(plan_log[0])          # keys: the first materialization
    d1, d2 = sizes[1] - sizes[0], sizes[2] - sizes[1]
    assert 0 < d1 == d2 < sizes[0] / 2, sizes
