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


def _plan_lines(df) -> int:
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


@pytest.fixture
def plan_log(monkeypatch):
    """Analyzed-plan line count of every localCheckpoint, in call order."""
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.delenv("STAKGRAPH_CKPT", raising=False)
    log = []
    orig = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        log.append(_plan_lines(self))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return log


def test_build_graph_plans_bounded(spark, plan_log):
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.schema import SOURCE_SCHEMA

    src = spark.createDataFrame(
        [("plans", p, "c0", LANG[p.rsplit(".", 1)[1]], c) for p, c in SOURCE],
        SOURCE_SCHEMA)
    g = build_graph(spark, src)
    eps = {r["name"] for r in
           g.nodes.where(g.nodes.node_type == "Endpoint").collect()}
    # the app.use prefix fact exists, so the endpoint-group rename ran
    # (and was materialized through ckpt)
    assert eps == {"/api/users"}, eps
    assert len(plan_log) >= 15, plan_log
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
        prune.prune_graph(nodes_df, edges_df, slim=slim)
        sizes.append(plan_log[0])          # keys: the first materialization
    d1, d2 = sizes[1] - sizes[0], sizes[2] - sizes[1]
    assert 0 < d1 == d2 < sizes[0] / 2, sizes
