"""Workspace / package detection -> Package nodes (monorepo support).

Mirrors the reference's filesystem scan (ast/src/workspace/mod.rs:94-200 +
ast/src/repo.rs:213-265) as pure DataFrame ops over the source table:

* a package = a directory at depth 0..3 whose files include a manifest
  marker; marker priority follows detect_language (Cargo.toml > go.mod >
  package.json > python files > Gemfile > composer.json > pom.xml)
* Cargo.toml counts only with a [package] table; package.json only without
  a "workspaces" key (those are workspace roots, not packages)
* the repo ROOT package is included only when its language is not already
  covered by a child package (detect_workspaces:96-103)
* workspace mode = >= 2 packages in a repo; below that no Package nodes
* framework detection from manifest content (next/react/express/fastify,
  axum/actix, gin/gorilla) lands in meta.framework
* edges: Repository -CONTAINS-> Package, Package -OF-> Language,
  Package -CONTAINS-> Directory, exploded from one row per package
  (dangling targets are cleaned by the prune plane's endpoint semijoin,
  mirroring the reference's find-first-or-skip)

The root and workspace rules are per-repo windows, so the source scan
appears twice in the plan (markers + root depth) rather than once per
self-join branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .keys import node_key_col

# marker basename -> (priority, language)
MARKERS = {
    "Cargo.toml": (0, "rust"),
    "go.mod": (1, "go"),
    "package.json": (2, "typescript"),
    "requirements.txt": (3, "python"),
    "setup.py": (3, "python"),
    "pyproject.toml": (3, "python"),
    "Gemfile": (4, "ruby"),
    "composer.json": (5, "php"),
    "pom.xml": (6, "java"),
}


def detect_packages(src: DataFrame) -> tuple[DataFrame, DataFrame]:
    """source table -> (package node rows, package edges)."""
    base = F.element_at(F.split("path", "/"), -1)
    dirname = F.when(F.col("path").contains("/"),
                     F.regexp_replace("path", "/[^/]*$", "")).otherwise(F.lit(""))
    prio_map = F.create_map(*[x for k, (p, _) in MARKERS.items()
                              for x in (F.lit(k), F.lit(p))])
    lang_map = F.create_map(*[x for k, (_, l) in MARKERS.items()
                              for x in (F.lit(k), F.lit(l))])

    # depth is measured from the REPO ROOT; paths may carry a common prefix
    # (e.g. fixture trees), so the root depth is the repo's shallowest file
    roots = (src.groupBy("repo")
             .agg((F.min(F.size(F.split("path", "/"))) - 1).alias("root_depth")))

    m = (src.withColumn("base", base)
         .where(F.col("base").isin(list(MARKERS)))
         .select("repo", dirname.alias("dir"), "base", "content",
                 prio_map[F.col("base")].alias("prio"),
                 lang_map[F.col("base")].alias("plang"))
         .join(roots, "repo")
         .withColumn("depth",
                     (F.when(F.col("dir") == "", 0)
                      .otherwise(F.size(F.split("dir", "/"))))
                     - F.col("root_depth"))
         .where((F.col("depth") >= 0) & (F.col("depth") <= 3))
         .drop("root_depth"))

    # manifest validity (is_actual_package)
    ok = F.when(F.col("base") == "Cargo.toml",
                F.col("content").contains("[package]")) \
          .when(F.col("base") == "package.json",
                ~F.coalesce(F.col("content"), F.lit(""))
                .contains('"workspaces"')) \
          .otherwise(F.lit(True))
    m = m.where(ok)

    # one package per (repo, dir): detect_language priority
    pkg = (m.groupBy("repo", "dir")
           .agg(F.min_by(F.struct("plang", "base", "content", "prio"), "prio")
                .alias("p"), F.min("depth").alias("depth"))
           .select("repo", "dir", "depth", F.col("p.plang").alias("plang"),
                   F.col("p.base").alias("base"),
                   F.col("p.content").alias("content")))

    # root package only when its language isn't covered by a child package;
    # then the workspace gate: >= 2 packages per repo.  Windows over the
    # repo instead of self-joins keep the source scan once in the plan.
    w = Window.partitionBy("repo")
    pkg = (pkg.withColumn("clangs", F.collect_set(
               F.when(F.col("depth") > 0, F.col("plang"))).over(w))
           .where((F.col("depth") > 0)
                  | ~F.array_contains("clangs", F.col("plang")))
           .withColumn("n", F.count("*").over(w))
           .where(F.col("n") >= 2))

    # framework detection (workspace/mod.rs:32-79)
    c = F.coalesce(F.col("content"), F.lit(""))
    fw = F.when(F.col("plang") == "typescript",
                F.when(c.contains('"next"'), "next")
                .when(c.contains('"react"'), "react")
                .when(c.contains('"express"'), "express")
                .when(c.contains('"fastify"'), "fastify")) \
          .when(F.col("plang") == "rust",
                F.when(c.contains("axum"), "axum")
                .when(c.contains("actix"), "actix")) \
          .when(F.col("plang") == "go",
                F.when(c.contains("gin-gonic"), "gin")
                .when(c.contains("gorilla/mux"), "gorilla"))

    pkg = pkg.select(
        "repo",
        F.when(F.col("dir") == "", F.element_at(F.split("repo", "/"), -1))
        .otherwise(F.element_at(F.split("dir", "/"), -1)).alias("name"),
        F.col("dir").alias("file"), "plang", fw.alias("framework"))

    nodes = pkg.select(
        F.lit("Package").alias("node_type"), "name", "file",
        F.lit(0).cast("long").alias("start"), F.lit(0).cast("long").alias("end"),
        F.lit("").alias("body"), F.lit(None).cast("string").alias("docs"),
        F.lit(None).cast("string").alias("hash"),
        F.lit(None).cast("string").alias("data_type"),
        F.when(F.col("framework").isNotNull(),
               F.create_map(F.lit("language"), F.col("plang"),
                            F.lit("framework"), F.col("framework")))
        .otherwise(F.create_map(F.lit("language"), F.col("plang"))).alias("meta"),
        "repo", F.col("plang").alias("lang"))

    pkey = node_key_col(F.lit("Package"), F.col("name"), F.col("file"), F.lit(0))

    def edge(edge_type, src_key, dst_key):
        return F.struct(F.lit(edge_type).alias("edge_type"),
                        src_key.alias("src_key"), dst_key.alias("dst_key"))

    edges = (pkg.select("repo", F.col("plang").alias("lang"), F.explode(F.array(
        edge("Contains", node_key_col(F.lit("Repository"), F.col("repo"),
                                      F.lit(""), F.lit(0)), pkey),
        edge("Of", pkey, node_key_col(F.lit("Language"), F.col("plang"),
                                      F.lit(""), F.lit(0))),
        F.when(F.col("file") != "", edge("Contains", pkey, node_key_col(
            F.lit("Directory"), F.element_at(F.split("file", "/"), -1),
            F.col("file"), F.lit(0)))))).alias("e"))
        .where(F.col("e").isNotNull()).select("repo", "lang", "e.*"))
    return nodes, edges
