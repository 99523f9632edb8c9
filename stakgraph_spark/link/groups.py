"""Endpoint-group prefix rewriting (rust scope/nest/mount/configure).

Reference: process_endpoint_groups (btreemap_graph.rs:523-602) +
match_endpoint_groups (rust.rs:934-1260).  Prefix facts arrive as extraction
mentions; the longest matching prefix wins per endpoint; the endpoint node is
renamed prefix+name BEFORE keys are computed (handler mentions are renamed in
lockstep so their keys agree)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ckpt import ckpt as _ckpt

KEY = ["repo", "lang"]
PREFIX_KINDS = ["ep_prefix_handler", "ep_prefix_rocket", "ep_prefix_import",
                "ep_group_use"]


def endpoint_prefixes(mention: DataFrame, eps: DataFrame,
                      imports_map: DataFrame) -> DataFrame:
    """-> (repo, lang, name, file, start, verb, prefix) rename map."""
    ep = eps.select(*KEY, "name", "file", "start",
                    F.element_at("meta", "verb").alias("verb"),
                    F.element_at("meta", "handler").alias("handler"))

    # (a) same-file handler registrations (actix scope+service, axum inline nest)
    same = (mention.where(F.col("m_kind") == "ep_prefix_handler")
            .select(*KEY, F.col("src_file").alias("file"),
                    F.col("dst_name").alias("handler"),
                    F.element_at("m_extra", "prefix").alias("prefix")))
    m_same = ep.join(same, KEY + ["file", "handler"], "inner")

    # (b) rocket mounts: handler name matches globally, endpoint file must
    # contain 'rocket' (rust.rs:1206-1214)
    rocket = (mention.where(F.col("m_kind") == "ep_prefix_rocket")
              .select(*KEY, F.col("dst_name").alias("handler"),
                      F.element_at("m_extra", "prefix").alias("prefix")))
    m_rocket = (ep.where(F.col("file").contains("rocket"))
                .join(rocket, KEY + ["handler"], "inner"))

    # (c) import-resolved groups (actix configure, axum nest(router_fn())):
    # ident -> module via the group file's import map -> endpoints whose file
    # contains the module (rust.rs:1098-1118, 1233-1259)
    imp = (mention.where(F.col("m_kind") == "ep_prefix_import")
           .select(*KEY, F.col("src_file").alias("gfile"),
                   F.col("dst_name").alias("ident"),
                   F.element_at("m_extra", "prefix").alias("prefix")))
    resolved = imp.join(
        imports_map.selectExpr("repo", "lang", "file as gfile",
                               "name as ident", "module"),
        KEY + ["gfile", "ident"], "inner")
    m_imp = (ep.join(resolved.drop("gfile", "ident"), KEY, "inner")
             .where(F.instr(F.col("file"), F.col("module")) > 0)
             .where(~F.col("name").startswith(F.col("prefix")))
             .drop("module"))

    # (d) express app.use("/prefix", routerVar) (react_ts.rs:1458-1516):
    # same-file endpoints whose meta.object == routerVar and whose path has
    # no '/:' segment; else import-resolve routerVar -> endpoints in files
    # containing the module path
    use_g = (mention.where(F.col("m_kind") == "ep_group_use")
             .select(*KEY, F.col("src_file").alias("gfile"),
                     F.col("dst_name").alias("router_var"),
                     F.element_at("m_extra", "prefix").alias("prefix")))
    eps_full = eps.select(*KEY, "name", "file", "start",
                          F.element_at("meta", "verb").alias("verb"),
                          F.element_at("meta", "object").alias("object"))
    m_use_same = (eps_full.join(
        use_g.selectExpr("repo", "lang", "gfile as file",
                         "router_var as object", "prefix"),
        KEY + ["file", "object"], "inner")
        .where(~F.col("name").contains("/:"))
        .where(~F.col("name").startswith(F.col("prefix"))))
    use_imp = use_g.join(
        imports_map.selectExpr("repo", "lang", "file as gfile",
                               "name as router_var", "module"),
        KEY + ["gfile", "router_var"], "inner")
    m_use_imp = (eps_full.join(use_imp.select(*KEY, "module", "prefix"), KEY, "inner")
                 .where(F.instr(F.col("file"), F.col("module")) > 0)
                 .where(~F.col("name").startswith(F.col("prefix"))))

    allm = (m_same.select(*KEY, "name", "file", "start", "verb", "prefix")
            .unionByName(m_rocket.select(*KEY, "name", "file", "start", "verb", "prefix"))
            .unionByName(m_imp.select(*KEY, "name", "file", "start", "verb", "prefix"))
            .unionByName(m_use_same.select(*KEY, "name", "file", "start", "verb", "prefix"))
            .unionByName(m_use_imp.select(*KEY, "name", "file", "start", "verb", "prefix")))
    w = Window.partitionBy(*KEY, "name", "file", "start", "verb") \
              .orderBy(F.length("prefix").desc(), F.col("prefix"))
    return (allm.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn"))


def apply_endpoint_groups(ex_nodes: DataFrame, mention: DataFrame,
                          imports_map: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Rename grouped endpoints and their handler mentions.  Every rename
    is rooted in a PREFIX_KINDS mention, so the pipeline calls this only
    when its census holds one."""
    eps = ex_nodes.where(F.col("node_type") == "Endpoint")
    renames = _ckpt(endpoint_prefixes(mention, eps, imports_map))

    new_eps = (eps.withColumn("verb", F.element_at("meta", "verb"))
               .join(renames, KEY + ["name", "file", "start", "verb"], "left")
               .withColumn("name", F.when(F.col("prefix").isNotNull(),
                                          F.concat("prefix", "name"))
                           .otherwise(F.col("name")))
               .drop("prefix", "verb"))
    ex_nodes = (ex_nodes.where(F.col("node_type") != "Endpoint")
                .unionByName(new_eps))

    # rename the handler mentions' endpoint side identically
    ren_m = renames.selectExpr("repo", "lang", "name as src_name",
                               "file as src_file", "start as src_start",
                               "verb as src_verb", "prefix")
    mention = (mention
               .join(ren_m,
                     KEY + ["src_name", "src_file", "src_start", "src_verb"],
                     "left")
               .withColumn("src_name",
                           F.when((F.col("m_kind") == "handler")
                                  & F.col("prefix").isNotNull(),
                                  F.concat("prefix", "src_name"))
                           .otherwise(F.col("src_name")))
               .drop("prefix"))
    return ex_nodes, mention
