"""Workspace/package detection -> Package nodes (workspace/mod.rs:94-200,
repo.rs:213-265) on the reference monorepo fixtures."""

import pytest

from harness import needs_reference


@pytest.fixture(scope="module")
def mono_graph(spark):
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.schema import SOURCE_SCHEMA
    from stakgraph_spark.source import walk_fixture

    rows = []
    # multi-language monorepo: walk once per language into the SAME repo
    for lang in ("python", "rust"):
        rows += walk_fixture("monorepo/monorepo_python_rust", lang,
                             repo="fixtures/monorepo_python_rust")
    for lang in ("rust",):
        rows += walk_fixture("monorepo/monorepo_rust", lang,
                             repo="fixtures/monorepo_rust")
    # single-package repo: must NOT enter workspace mode
    rows += walk_fixture("python/web", "python")
    # de-dup rows walked by both language specs (e.g. pkg files)
    seen, uniq = set(), []
    for r in rows:
        k = (r["repo"], r["path"])
        if k not in seen:
            seen.add(k)
            uniq.append(r)
    src = spark.createDataFrame(uniq, SOURCE_SCHEMA)
    from stakgraph_spark.pipeline import build_graph
    g = build_graph(spark, src)
    nodes = g.nodes.persist()
    edges = g.edges.persist()
    nodes.count(), edges.count()
    return nodes, edges


def _pkgs(nodes, repo):
    from pyspark.sql import functions as F
    return {r["name"]: r for r in
            nodes.where((nodes.node_type == "Package") & (nodes.repo == repo))
            .select("name", "file",
                    F.element_at("meta", "language").alias("language"),
                    F.element_at("meta", "framework").alias("framework"))
            .collect()}


@needs_reference
def test_python_rust_monorepo_packages(mono_graph):
    nodes, edges = mono_graph
    pkgs = _pkgs(nodes, "fixtures/monorepo_python_rust")
    # children: libs/common (setup.py), services/web (requirements.txt),
    # services/processor (Cargo.toml [package]); the root pyproject.toml is
    # python — already covered by a child package, so the root is excluded
    assert set(pkgs) == {"common", "web", "processor"}, set(pkgs)
    assert pkgs["processor"]["language"] == "rust"
    assert pkgs["web"]["language"] == "python"


@needs_reference
def test_rust_workspace_packages(mono_graph):
    nodes, edges = mono_graph
    pkgs = _pkgs(nodes, "fixtures/monorepo_rust")
    # root Cargo.toml is [workspace]-only -> not a package; members are
    assert "api" in pkgs and "shared" in pkgs
    assert all(p["language"] == "rust" for p in pkgs.values())


def test_single_package_repo_has_no_package_nodes(mono_graph):
    nodes, _ = mono_graph
    assert not _pkgs(nodes, "fixtures/python/web")


def test_package_edges(mono_graph):
    nodes, edges = mono_graph
    pkg_keys = {r["node_key"] for r in
                nodes.where(nodes.node_type == "Package")
                .select("node_key").collect()}
    repo_keys = {r["node_key"] for r in
                 nodes.where(nodes.node_type == "Repository")
                 .select("node_key").collect()}
    contains = {(r["src_key"], r["dst_key"]) for r in
                edges.where(edges.edge_type == "Contains")
                .select("src_key", "dst_key").collect()}
    covered = {d for (s, d) in contains if d in pkg_keys and s in repo_keys}
    assert covered == pkg_keys, "every Package hangs off its Repository"


# ---- detect_packages over inline rows (no fixture tree needed) ----

INLINE_ROWS = [
    # "mono": every path carries a "ws/" prefix, so depth counts from the
    # repo's shallowest file.  The root pyproject.toml is python, which the
    # libs/common child covers -> no root package.  A [workspace]-only
    # Cargo.toml and a "workspaces" package.json are workspace roots, not
    # packages.
    ("mono", "ws/main.py", "print(1)\n"),
    ("mono", "ws/pyproject.toml", "[project]\nname = 'mono'\n"),
    ("mono", "ws/libs/common/setup.py", "from setuptools import setup\n"),
    ("mono", "ws/svc/proc/Cargo.toml",
     '[package]\nname = "proc"\n[dependencies]\naxum = "0.7"\n'),
    ("mono", "ws/crates/Cargo.toml", '[workspace]\nmembers = ["a"]\n'),
    ("mono", "ws/site/package.json", '{"workspaces": ["a"], "next": 1}\n'),
    ("mono", "ws/fe/package.json", '{"dependencies": {"next": "14"}}\n'),
    # "keeps": the root go.mod's language is not covered by a child, so the
    # root package stays; Cargo.toml outranks package.json in one directory
    ("keeps", "go.mod", "module keeps\nrequire github.com/gin-gonic/gin\n"),
    ("keeps", "tools/package.json", '{"dependencies": {"react": "18"}}\n'),
    ("keeps", "svc/Cargo.toml", '[package]\nname = "svc"\n'),
    ("keeps", "svc/package.json", '{"dependencies": {"express": "4"}}\n'),
    # "single": one package only -> below the workspace gate, no Package
    ("single", "requirements.txt", "flask\n"),
    ("single", "app/main.py", "print(1)\n"),
]


@pytest.fixture(scope="module")
def inline_packages(spark):
    from stakgraph_spark.packages import detect_packages

    src = spark.createDataFrame(
        [(r, p, "c0", "x", c) for r, p, c in INLINE_ROWS],
        "repo string, path string, commit string, lang string, "
        "content string")
    nodes, edges = detect_packages(src)
    return ([r.asDict() for r in nodes.collect()],
            [r.asDict() for r in edges.collect()])


def _key(spark, t, name, file):
    from pyspark.sql import functions as F
    from stakgraph_spark.keys import node_key_col
    return spark.range(1).select(node_key_col(
        F.lit(t), F.lit(name), F.lit(file), F.lit(0))).first()[0]


def test_inline_package_nodes(inline_packages):
    nodes, _ = inline_packages
    got = {(n["repo"], n["name"], n["file"], n["lang"],
            tuple(sorted(n["meta"].items()))) for n in nodes}
    assert got == {
        ("mono", "common", "ws/libs/common", "python",
         (("language", "python"),)),
        ("mono", "proc", "ws/svc/proc", "rust",
         (("framework", "axum"), ("language", "rust"))),
        ("mono", "fe", "ws/fe", "typescript",
         (("framework", "next"), ("language", "typescript"))),
        ("keeps", "keeps", "", "go",
         (("framework", "gin"), ("language", "go"))),
        ("keeps", "tools", "tools", "typescript",
         (("framework", "react"), ("language", "typescript"))),
        ("keeps", "svc", "svc", "rust", (("language", "rust"),)),
    }, got
    assert all(n["node_type"] == "Package" and n["start"] == 0
               for n in nodes)


def test_inline_package_edges(spark, inline_packages):
    nodes, edges = inline_packages
    want = set()
    for n in nodes:
        pkey = _key(spark, "Package", n["name"], n["file"])
        want.add((n["repo"], n["lang"], "Contains",
                  _key(spark, "Repository", n["repo"], ""), pkey))
        want.add((n["repo"], n["lang"], "Of", pkey,
                  _key(spark, "Language", n["lang"], "")))
        if n["file"]:
            want.add((n["repo"], n["lang"], "Contains", pkey,
                      _key(spark, "Directory", n["file"].split("/")[-1],
                           n["file"])))
    got = [(e["repo"], e["lang"], e["edge_type"], e["src_key"], e["dst_key"])
           for e in edges]
    assert len(got) == len(set(got)) == len(want) == 3 * 6 - 1
    assert set(got) == want
