"""End-to-end graph construction pipeline.

Planes (SURVEY.md §7):
  1. file plane    — Repository/Language/Directory/File nodes + CONTAINS
                     hierarchy, sha256 invariant (pure DataFrame ops)
  2. extract plane — one mapInPandas pass over (repo,lang)-partitioned source
                     -> nodes + in-file edges + unresolved mentions
  3. link plane    — symbol tables + priority-cascade joins (calls, handlers,
                     implements, imports, api, tests)
  4. prune plane   — endpoint filter, DataModel-vs-Class dedup, orphan prune
  5. materialize   — partitioned graph_nodes / graph_edges (+ triples view)

Stage boundaries mirror the reference's 16-step builder
(ast/src/builder/core.rs:48-235) but restructured so every per-file step is
in plane 2 and every cross-file step is a join in plane 3.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .extract import extract_raw
from .keys import node_key_col
from .langspec import LANGS
from .link import api as api_link
from .link import simple as simple_link
from .link.calls import resolve_calls
from .link.groups import PREFIX_KINDS, apply_endpoint_groups
from .source import with_skip_flags

EDGE_COLS = ["src_key", "dst_key", "edge_type", "operand", "confidence",
             "strategy", "repo", "lang"]

# Internal (link/prune plane) edge schema: endpoints are 8-byte xxhash64
# surrogates of the canonical string keys.  The <=5000-char key strings were
# the dominant shuffle payload of every edge dedup / prune join (measured:
# link-plane stages scaled 1.7-2.1x of the 3.9x compute ceiling at 252k
# files, random-gather memory traffic being the contended resource —
# VERDICT r04 #1); hashing them off the edge rows cuts each edge's key bytes
# from ~120-300 to 16.  Strings are re-attached from the node table exactly
# once, at prune-time materialization.  Collision math: 64-bit keys are safe
# to ~10^8 nodes per build (p < 1e-3); a 10^10-node corpus would widen the
# surrogate to 128 bits (two xxhash64 calls with distinct seeds) — the
# schema change is one column.
EDGE_COLS_H = ["src_h", "dst_h", "edge_type", "operand", "confidence",
               "strategy", "repo", "lang"]


from .ckpt import ckpt as _ckpt

_CODEGEN_MODE = "spark.sql.codegen.factoryMode"


@contextmanager
def interpreted(spark: SparkSession):
    """Run the enclosed Spark jobs on Spark's interpreted evaluators.

    A build is ~150 small jobs, most over a few hundred rows: the code
    generated for them (Janino classes, then the JIT compiling those
    classes) costs more CPU than it saves, and the next build reuses little
    of it.  NO_CODEGEN makes projections, predicates and orderings
    interpreted, and Spark's CollapseCodegenStages skips whole-stage codegen
    under it as well, so the build does not depend on the session's
    `spark.sql.codegen.*` settings.  Two kinds of class are still
    generated, one small class per shape: the row joiner of a partial hash
    aggregation (no interpreted form exists), and the projection that
    serializes an Observation's collect_set buffer (the census), which
    runs after its task ends, outside the session's settings.

    The conf is internal to Spark (upstream runs its expression tests in
    both modes); tests/test_build_config.py fails if a Spark version starts
    compiling code inside a build again.  It is session-wide while set: a
    query another thread runs on the same session meanwhile runs interpreted
    too.  The caller's value (or its absence) is restored on exit."""
    prev = spark.conf.getAll.get(_CODEGEN_MODE)
    spark.conf.set(_CODEGEN_MODE, "NO_CODEGEN")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_CODEGEN_MODE)
        else:
            spark.conf.set(_CODEGEN_MODE, prev)


@dataclass
class GraphResult:
    nodes: DataFrame
    edges: DataFrame
    metrics: list[dict] = field(default_factory=list)


def _key(df: DataFrame, type_col="node_type") -> DataFrame:
    verb = F.element_at("meta", "verb")
    return df.withColumn(
        "node_key",
        F.when(verb.isNotNull(),
               node_key_col(F.col(type_col), F.col("name"), F.col("file"),
                            F.col("start"), verb))
        .otherwise(node_key_col(F.col(type_col), F.col("name"), F.col("file"),
                                F.col("start"))))


def _edge_keys(df: DataFrame) -> DataFrame:
    """edge rows with explicit endpoint refs -> key columns."""
    def k(prefix: str):
        verb = F.col(f"{prefix}_verb")
        return F.when(
            verb.isNotNull(),
            node_key_col(F.col(f"{prefix}_type"), F.col(f"{prefix}_name"),
                         F.col(f"{prefix}_file"), F.col(f"{prefix}_start"), verb)
        ).otherwise(
            node_key_col(F.col(f"{prefix}_type"), F.col(f"{prefix}_name"),
                         F.col(f"{prefix}_file"), F.col(f"{prefix}_start")))
    return df.withColumn("src_key", k("src")).withColumn("dst_key", k("dst"))


def _norm_edges(df: DataFrame) -> DataFrame:
    for c, t in (("operand", "string"), ("confidence", "double"), ("strategy", "string")):
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(t))
    return df.select(*EDGE_COLS)


def _norm_edges_h(df: DataFrame) -> DataFrame:
    """Edge family -> internal hashed-endpoint schema (EDGE_COLS_H).

    Every family computes src_key/dst_key as unevaluated projections
    (node_key_col expressions), so the optimizer folds the xxhash64 here
    into the projection that produces the edge row — the key STRING exists
    only transiently inside that stage and never enters a shuffle file."""
    df = _norm_edges(df)
    return df.select(
        F.xxhash64("src_key").alias("src_h"),
        F.xxhash64("dst_key").alias("dst_h"),
        "edge_type", "operand", "confidence", "strategy", "repo", "lang")


# Dedup survivors.  The reference keeps one node per canonical key and one
# edge per (src, dst, type) in a BTreeMap/BTreeSet (btreemap_graph.rs:51-55),
# so its graph depends on the input only.  A key here can arrive more than
# once with different values (a Language node from every repo that has the
# language, a Directory node from every repo and language under it, an edge
# found by two families), and each survivor is the least row of its group
# under one total order, never the first row a partition happens to hold:
#   nodes       least (repo, lang, every other column), meta compared as its
#               sorted entries (a map is not orderable)
#   edges       highest confidence, null lowest; then least
#               (strategy, operand, repo, lang)
#   fat bodies  least body per key_h
# Every column is in its order, so rows tie only when they are identical.


def _node_survivors(nodes: DataFrame) -> DataFrame:
    order = F.struct("repo", "lang", *[
        F.array_sort(F.map_entries(c)) if c == "meta" else F.col(c)
        for c in nodes.columns if c not in ("repo", "lang", "node_key")])
    return (nodes.groupBy("node_key")
            .agg(F.min_by(F.struct(*nodes.columns), order).alias("n"))
            .select("n.*"))


def _edge_survivors(edges: DataFrame) -> DataFrame:
    order = F.struct(F.col("confidence").isNull(), -F.col("confidence"),
                     "strategy", "operand", "repo", "lang")
    return (edges.groupBy("src_h", "dst_h", "edge_type")
            .agg(F.min_by(F.struct(*EDGE_COLS_H), order).alias("e"))
            .select("e.*"))


def file_plane(src: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Repository / Language / Directory / File nodes + containment edges.

    File.hash = sha256(content) — the per-row invariant vs the source table
    (reference ast/src/builder/utils.rs:247-258).  File bodies are NOT copied
    into the graph (at 10^12 files that doubles the table; the hash carries
    the invariant)."""
    pkg_names = sorted({p for s in LANGS.values() for p in s.pkg_files})

    base = F.element_at(F.split("path", "/"), -1)
    files = (src.select(
        "repo", "lang", "path", "content",
        base.alias("name"),
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("hash"),
        F.col("skipped"))
        .withColumn("is_pkg", F.col("name").isin(pkg_names)))

    file_nodes = files.select(
        F.lit("File").alias("node_type"), "name",
        F.col("path").alias("file"),
        F.lit(0).cast("long").alias("start"), F.lit(0).cast("long").alias("end"),
        F.lit("").alias("body"), F.lit(None).cast("string").alias("docs"),
        "hash", F.lit(None).cast("string").alias("data_type"),
        F.when(F.col("is_pkg"), F.create_map(F.lit("pkg_file"), F.lit("true")))
         .when(F.col("skipped").isNotNull(),
               F.create_map(F.lit("skipped"), F.col("skipped")))
         .otherwise(F.create_map().cast("map<string,string>")).alias("meta"),
        "repo", "lang")

    # directory prefixes: explode each path's ancestor dirs
    dirs = (src.select("repo", "lang", F.col("path"))
            .withColumn("parts", F.split("path", "/"))
            .where(F.size("parts") >= 2)  # root-level files have no parent dir
            .select("repo", "lang",
                    F.explode(F.expr(
                        "transform(sequence(1, size(parts)-1), "
                        "i -> array_join(slice(parts, 1, i), '/'))")).alias("dir"))
            .distinct())
    dir_nodes = dirs.select(
        F.lit("Directory").alias("node_type"),
        F.element_at(F.split("dir", "/"), -1).alias("name"),
        F.col("dir").alias("file"),
        F.lit(0).cast("long").alias("start"), F.lit(0).cast("long").alias("end"),
        F.lit("").alias("body"), F.lit(None).cast("string").alias("docs"),
        F.lit(None).cast("string").alias("hash"),
        F.lit(None).cast("string").alias("data_type"),
        F.create_map().cast("map<string,string>").alias("meta"),
        "repo", "lang")

    repos = src.select("repo", "lang", "commit").distinct()
    repo_nodes = repos.groupBy("repo").agg(F.min("commit").alias("commit")).select(
        F.lit("Repository").alias("node_type"), F.col("repo").alias("name"),
        F.lit("").alias("file"),
        F.lit(0).cast("long").alias("start"), F.lit(0).cast("long").alias("end"),
        F.lit("").alias("body"), F.lit(None).cast("string").alias("docs"),
        F.col("commit").alias("hash"), F.lit(None).cast("string").alias("data_type"),
        F.create_map().cast("map<string,string>").alias("meta"),
        "repo", F.lit("").alias("lang"))
    lang_nodes = repos.select(
        F.lit("Language").alias("node_type"), F.col("lang").alias("name"),
        F.lit("").alias("file"),
        F.lit(0).cast("long").alias("start"), F.lit(0).cast("long").alias("end"),
        F.lit("").alias("body"), F.lit(None).cast("string").alias("docs"),
        F.lit(None).cast("string").alias("hash"),
        F.lit(None).cast("string").alias("data_type"),
        F.create_map().cast("map<string,string>").alias("meta"),
        "repo", "lang")

    nodes = file_nodes.unionByName(dir_nodes).unionByName(repo_nodes) \
                      .unionByName(lang_nodes)

    # containment edges -------------------------------------------------
    def dirname(c):  # '' when no slash
        return F.when(c.contains("/"), F.regexp_replace(c, "/[^/]*$", "")).otherwise(F.lit(""))

    file_parent = files.select(
        "repo", "lang",
        F.lit("Contains").alias("edge_type"),
        F.when(dirname(F.col("path")) == "",
               node_key_col(F.lit("Repository"), F.col("repo"), F.lit(""), F.lit(0)))
         .otherwise(node_key_col(F.lit("Directory"),
                                 F.element_at(F.split(dirname(F.col("path")), "/"), -1),
                                 dirname(F.col("path")), F.lit(0))).alias("src_key"),
        node_key_col(F.lit("File"), base, F.col("path"), F.lit(0)).alias("dst_key"))

    dir_parent = dirs.select(
        "repo", "lang",
        F.lit("Contains").alias("edge_type"),
        F.when(~F.col("dir").contains("/"),
               node_key_col(F.lit("Repository"), F.col("repo"), F.lit(""), F.lit(0)))
         .otherwise(node_key_col(F.lit("Directory"),
                                 F.element_at(F.split(dirname(F.col("dir")), "/"), -1),
                                 dirname(F.col("dir")), F.lit(0))).alias("src_key"),
        node_key_col(F.lit("Directory"), F.element_at(F.split("dir", "/"), -1),
                     F.col("dir"), F.lit(0)).alias("dst_key"))

    of_lang = repos.select(
        "repo", "lang",
        F.lit("Of").alias("edge_type"),
        node_key_col(F.lit("Repository"), F.col("repo"), F.lit(""), F.lit(0)).alias("src_key"),
        node_key_col(F.lit("Language"), F.col("lang"), F.lit(""), F.lit(0)).alias("dst_key"))

    edges = file_parent.unionByName(dir_parent).unionByName(of_lang)
    return nodes, _norm_edges(edges)


# ---------------- census gates ----------------
# The reference builds one Repo per detected language and runs only the
# stages and clean_graph directives that language has (builder/core.rs,
# stages.rs:628-640).  The build here plans every consumer for every input,
# and Spark's adaptive execution drops an empty branch only after that
# branch's query stage has run, so each consumer of an absent kind still
# costs its analysis and its jobs.  One census per build — the set of
# (rec, lang, kind) the extraction produced — decides which consumers are
# constructed at all.
#
# Exactness rule: a gate may skip a consumer only when the absent kind
# roots every output row — an inner join or filter on that kind, a
# left-anti join whose drop set is then empty, or a left join that only
# adds columns to existing rows.  A gate is a tuple of alternatives; the
# consumer is built when every term of one alternative is in the census.
# A term is (rec, kind, langs): kind None matches any kind, langs () any
# language.


# languages whose Instance nodes are candidates, kept only when their
# data_type names a Class (add_instances)
INSTANCE_FILTER_LANGS = ("java", "c")


def _n(kind: str, *langs: str) -> tuple:
    return ("node", kind, langs)


def _m(kind: str, *langs: str) -> tuple:
    return ("mention", kind, langs)


GATES: dict[str, tuple[tuple[tuple, ...], ...]] = {
    # edge families: each joins or filters its inputs on the named kinds
    "implements": ((_m("implements"),),),             # mention rows inner-joined
    "python_handlers": ((_m("handler", "python"),),),  # python mentions filtered
    "verb_handlers": ((_m("handler"),),),             # inner join on mentions
    "ruby_endpoints": ((_n("Endpoint", "ruby"),),),   # ruby endpoints filtered
    "function_vars": ((_n("Var"), _m("ident_set")),),  # inner joins on both
    "import_edges": ((_m("import_edge"),),),          # mention rows inner-joined
    "ruby_dm_within": ((_n("DataModel", "ruby"),),),  # inner join on ruby DMs
    "php_handlers": ((_m("php_handler"),),),          # mention rows inner-joined
    "angular_renders": ((_m("ng_render"),),),         # inner join on mentions
    "requests_endpoints": ((_n("Request"), _n("Endpoint")),),      # inner join
    "integration_tests": ((_n("IntegrationTest"), _n("Endpoint")),),  # inner
    "e2e_pages": ((_n("E2eTest"), _n("Page")),),      # inner join
    "e2e_test_ids": ((_n("E2eTest"),),),              # inner join on tests
    "uses": ((_n("Library"), _m("import")),),         # inner joins on both
    # fused symtab parts: each part's rows are its mentions or nodes, kept
    # only where the symtab holds the target type
    "fused.operand": ((_m("operand_cls"), _n("Class")),
                      (_m("operand_cls"), _n("DataModel"))),
    "fused.class_new": ((_m("call"), _n("Class")),),  # unique-Class pick
    "fused.renders": ((_m("renders"),),),             # mention rows
    "fused.test_class": ((_m("test_class"), _n("Class")),),  # Class pick
    "fused.dm": ((_n("DataModel"), _m("dm_set")),),   # inner join + DM pick
    "fused.parent": ((_n("Class"),),),                # Class rows, Class pick
    "fused.includes": ((_n("Class"),),),              # Class rows, Class pick
    "fused.instance": ((_n("Instance"), _n("Class")),),  # Class pick
    # node plane
    # left-anti join: its drop set holds only these instances
    "instance_filter": ((_n("Instance", *INSTANCE_FILTER_LANGS),),),
    "indirect_tests": ((_n("IntegrationTest"), _n("Request"),
                        _n("Endpoint")),),            # inner joins on all three
    "fat_bodies": ((("fat", None, ()),),),            # left join adds a column
    "endpoint_groups": tuple((_m(k),) for k in PREFIX_KINDS),  # renames
    # call cascade: a skipped strategy yields its null candidate
    "cascade.operand": ((_n("Instance"),),),          # left join on instances
    "cascade.nested_var": ((_n("Var"),),),            # left join on vars
    "cascade.struct_fields": ((_m("struct_field"),),),  # left join on fields
    # implementors register under the interface name; csharp interface
    # methods (meta.trait_operand) are the no-implementation fallback
    "cascade.interface": ((_m("implements", "java", "csharp"),),
                          (_n("Function", "csharp"),)),
}


@dataclass(frozen=True)
class Census:
    """The (rec, lang, kind) triples an extraction produced; kind is
    coalesce(node_type, m_kind, edge_type)."""
    present: frozenset

    @staticmethod
    def column():
        return F.collect_set(F.struct(
            "rec", "lang",
            F.coalesce("node_type", "m_kind", "edge_type").alias("kind")))

    @classmethod
    def of(cls, rows) -> "Census":
        return cls(frozenset((r["rec"], r["lang"], r["kind"]) for r in rows))

    def has(self, rec: str, kind: str | None = None,
            langs: tuple = ()) -> bool:
        return any(r == rec and kind in (None, k) and (not langs or lg in langs)
                   for r, lg, k in self.present)

    def admits(self, gate: str) -> bool:
        return any(all(self.has(*term) for term in alt)
                   for alt in GATES[gate])


def build_graph(spark: SparkSession, source: DataFrame,
                raw: DataFrame | None = None) -> GraphResult:
    """source (repo,path,commit,lang,content) -> GraphResult.

    `raw` may be a pre-materialized extraction stream (the resumable runner
    persists it per (repo, lang) partition and re-feeds it on restart).

    Every job launched here runs `interpreted`; the returned node table's
    last join (body restore) runs when the caller reads it, under the
    caller's settings."""
    # CONCURRENT DRIVER THREADS (guide §2.6): independent jobs and their
    # Catalyst analysis overlap across driver threads throughout the build.
    pool = ThreadPoolExecutor(max_workers=12)
    try:
        with interpreted(spark):
            return _build(spark, source, raw, pool)
    finally:
        pool.shutdown(wait=False, cancel_futures=True)


def _build(spark: SparkSession, source: DataFrame, raw: DataFrame | None,
           pool: ThreadPoolExecutor) -> GraphResult:
    metrics: list[dict] = []
    t0 = time.time()

    def stage(name: str):
        metrics.append({"stage": name, "t": round(time.time() - t0, 3)})

    src = with_skip_flags(source)
    # repartition on (repo, lang, path): extraction is per-file independent
    # and every downstream consumer SHUFFLES on its own key anyway, so the
    # extra `path` term costs nothing while making parse-task sizes uniform —
    # hashing only (repo, lang) left whole repo-language slices on single
    # tasks, and the largest slice bounded the extraction stage's wall clock
    # at high parallelism (measured 0.74 scaling efficiency in the extract
    # phase at round 2).
    # The partition COUNT is explicit: a bare repartition(cols) is an AQE
    # coalescing target, and AQE sizes pieces by BYTES — extraction costs
    # ~50-300 µs of regex CPU per row on ~1 KB rows, so byte-targeted
    # coalescing packed a 98k-file corpus into 11 pieces whose second wave
    # idled cores on every downstream lineage stage (event-log: stages 3,
    # 353, 355 all n=11 at local[8]).  An explicit count is exempt from AQE
    # coalescing; shuffle.partitions is the deployment-sized knob (4x slots
    # in bench, O(100k) on a real cluster at 100 TB).
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_part = spark.sparkContext.defaultParallelism * 4
    src = src.repartition(n_part, "repo", "lang", "path")

    # localCheckpoint: the RAW stream feeds ~10 downstream join families;
    # truncating lineage here keeps each family's plan shallow (Catalyst
    # planning time was the bottleneck, not data) and avoids re-running the
    # UDF per consumer.  On a cluster this becomes a checkpoint to the
    # pipeline's Iceberg stage table (resumability, FIXTURES.md §4).
    # Submitted FIRST, on a pool thread: the extraction job needs nothing
    # from the file plane, so the file/package plane's ~2.5 s of cold
    # Catalyst analysis (measured at 0.09 core-util) overlaps the
    # extraction's execution instead of preceding it on an idle cluster.
    # The census rides the extraction checkpoint as an Observation (no job
    # of its own); a raw stream passed in is censused with one aggregate.
    fut_raw = None
    if raw is None:
        obs = Observation()
        fut_raw = pool.submit(
            lambda: _ckpt(extract_raw(src.where(F.col("skipped").isNull()))
                          .observe(obs, Census.column().alias("kinds"))))

    fp_nodes, fp_edges = file_plane(src)
    # workspace/package detection (monorepos): Package nodes + edges
    # (workspace/mod.rs:94-200, repo.rs:213-265)
    from .packages import detect_packages
    pkg_nodes, pkg_edges = detect_packages(src)
    fp_nodes = fp_nodes.unionByName(pkg_nodes)
    fp_edges = fp_edges.unionByName(_norm_edges(pkg_edges))
    stage("file_plane")

    if fut_raw is not None:
        raw = fut_raw.result()
        census = Census.of(obs.get["kinds"])
    else:
        census = Census.of(raw.agg(Census.column()).collect()[0][0])
    stage("raw_extracted")
    skipped: list[str] = []
    metrics.append({"stage": "census", "t": round(time.time() - t0, 3),
                    "kinds": sorted(census.present), "skipped": skipped})

    def gate(name: str) -> bool:
        if census.admits(name):
            return True
        skipped.append(name)
        return False

    ex_nodes = raw.where(F.col("rec") == "node").select(
        "node_type", "name", "file", "start", "end", "body", "docs", "hash",
        "data_type", "meta", "body_mode", "body_off", "repo", "lang")
    # import-section nodes are named by their own canonical key over the
    # constant "imports" (combine_import_sections, builder/utils.rs:158-175)
    ex_nodes = ex_nodes.withColumn(
        "name",
        F.when(F.col("node_type") == "Import",
               node_key_col(F.lit("Import"), F.lit("imports"), F.col("file"),
                            F.col("start")))
        .otherwise(F.col("name")))

    mention = raw.where(F.col("rec") == "mention")

    # endpoint admission: meta.handler required (btreemap_graph.rs:352-372),
    # dedup on (name, file, verb).  Ruby (rails) endpoints resolve their
    # handler FIRST (RESTful expansion candidates without a matching
    # controller action are dropped), then dedup first-finder-wins.
    eps_all = ex_nodes.where(F.col("node_type") == "Endpoint") \
        .where(F.element_at("meta", "handler").isNotNull())
    # deterministic first-wins (min start): dropDuplicates picks an arbitrary
    # row, which made the graph differ between otherwise identical runs
    ep_cols = eps_all.columns
    eps = (eps_all.where(F.col("lang") != "ruby")
           .groupBy("repo", "lang", "name", "file",
                    F.coalesce(F.element_at("meta", "verb"), F.lit(""))
                    .alias("_v"))
           .agg(F.min_by(F.struct(*ep_cols), "start").alias("k"))
           .select("k.*"))
    ruby_handler_edges = None
    if gate("ruby_endpoints"):
        ruby_eps, ruby_handler_edges = simple_link.ruby_admit_endpoints(
            eps_all.where(F.col("lang") == "ruby"), mention, ex_nodes)
        eps = eps.unionByName(ruby_eps)
    ex_nodes = ex_nodes.where(F.col("node_type") != "Endpoint").unionByName(eps)
    imports_map = mention.where(F.col("m_kind") == "import").select(
        "repo", "lang", F.col("src_file").alias("file"),
        F.col("dst_name").alias("name"), F.col("dst_file").alias("module"))

    # endpoint-group prefix rewrite (rust scope/nest/mount/configure) BEFORE
    # keys are computed — renames endpoints and their handler mentions
    if gate("endpoint_groups"):
        ex_nodes, mention = apply_endpoint_groups(ex_nodes, mention,
                                                  imports_map)

    # file-plane nodes carry no body_mode/off (their bodies are empty by
    # construction); allowMissingColumns fills the slimming columns with null
    nodes = fp_nodes.unionByName(ex_nodes, allowMissingColumns=True)
    nodes = _key(nodes)
    # ONE node checkpoint serves both the link plane and the final payload
    # restore: the extraction UDF already stripped span-recomputable bodies
    # before they crossed Arrow (schema.py RAW_SCHEMA header), so the only
    # "fat" columns left are link-consumed bodies + docs — cheap enough
    # that the former second (slim-projection) checkpoint was pure barrier
    # cost: one more materialization job whose tail stragglers idle every
    # core at high parallelism (measured 26% idle at the pinned 8-core
    # scaling leg).  The cascade's nonempty-body rule rides has_body.
    nodes = _ckpt(_node_survivors(nodes)
                  .withColumn("key_h", F.xxhash64("node_key"))
                  .withColumn("has_body",
                              (F.length(F.coalesce("body", F.lit(""))) > 0)
                              | F.col("body_mode").isNotNull()))
    if os.environ.get("STAKGRAPH_CHECK_SURROGATES"):
        # debug-flagged guard for the 64-bit surrogate collision math
        # (EDGE_COLS_H comment above): node_key is unique post-dedup, so a
        # key_h collision means two distinct nodes would silently merge in
        # every link/prune join.  One cheap agg over the just-checkpointed
        # table; a 10^9-node run fails loudly instead (VERDICT r05 #7).
        c = nodes.agg(F.count("*").alias("n"),
                      F.countDistinct("key_h").alias("h")).collect()[0]
        if c["n"] != c["h"]:
            raise AssertionError(
                f"xxhash64 surrogate collision: {c['n']} distinct node_keys "
                f"-> {c['h']} distinct key_h; widen the surrogate to 128 "
                "bits (see EDGE_COLS_H collision math)")
    stage("nodes_assembled")

    # File -CONTAINS-> extracted node (add_node_with_parent semantics)
    files_by_path = nodes.where(F.col("node_type") == "File").select(
        "repo", "lang", F.col("file").alias("file"),
        F.col("node_key").alias("file_key"))
    file_contains = (_key(ex_nodes).select("repo", "lang", "file", "node_key")
                     .join(files_by_path, ["repo", "lang", "file"], "inner")
                     .select("repo", "lang",
                             F.lit("Contains").alias("edge_type"),
                             F.col("file_key").alias("src_key"),
                             F.col("node_key").alias("dst_key")))

    direct_edges = _edge_keys(raw.where(F.col("rec") == "edge")).select(
        "repo", "lang", "edge_type", "src_key", "dst_key", "operand")
    stage("direct_edges")

    # ---------------- linking plane ----------------
    calls_m = mention.where(
        (F.col("m_kind") == "call")
        & F.element_at("m_extra", "class_new").isNull()).select(
        "repo", "lang", "src_type", "src_name", "src_file", "src_start",
        F.col("dst_name").alias("called"), "operand",
        F.element_at("m_extra", "rcv_type").alias("rcv_type"),
        F.element_at("m_extra", "rcv_base").alias("rcv_base"),
        F.element_at("m_extra", "rcv_field").alias("rcv_field"),
        F.element_at("m_extra", "rcv_call").alias("rcv_call"),
        F.element_at("m_extra", "skip").alias("skipflag"))
    struct_fields = None
    if gate("cascade.struct_fields"):
        struct_fields = mention.where(
            F.col("m_kind") == "struct_field").select(
            "repo", "lang", F.col("src_name").alias("type"),
            F.col("dst_name").alias("field"),
            F.element_at("m_extra", "ftype").alias("ftype"))

    functions = nodes.where(F.col("node_type") == "Function")
    instances = (nodes.where(F.col("node_type") == "Instance")
                 if gate("cascade.operand") else None)
    variables = (nodes.where(F.col("node_type") == "Var")
                 if gate("cascade.nested_var") else None)

    # handler linking for languages WITHOUT a custom handler_finder (go & co)
    # goes through the same cascade as calls (format.rs:552-577 routes the
    # default handler_finder through node_data_finder), so both mention kinds
    # ride ONE cascade invocation — a second instance costs ~10 stages.
    USE_HANDLER_FINDER = ["python", "ruby"]
    # ts/react: handler goes through the cascade but a miss KEEPS the
    # endpoint (react_ts handler_finder returns (endpoint, None));
    # Next.js verb-style handlers resolve same-file case-insensitively
    KEEP_ON_MISS = ["typescript", "react"]
    handler_m = mention.where(F.col("m_kind") == "handler").select(
        "repo", "lang", "src_type", "src_name", "src_file", "src_start",
        "src_verb", "dst_name",
        F.element_at("m_extra", "verb_style").alias("verb_style"))
    verb_handler_edges = None
    if gate("verb_handlers"):
        verb_handler_edges = simple_link.resolve_verb_handlers(
            handler_m.where(F.col("verb_style") == "1"), nodes)
    handler_m = handler_m.where(F.col("verb_style").isNull()).drop("verb_style")
    hm_cascade = (handler_m.where(~F.col("lang").isin(USE_HANDLER_FINDER))
                  .withColumn("called", F.col("dst_name"))
                  .withColumn("operand", F.lit(None).cast("string"))
                  .drop("dst_name"))
    cascade_in = (calls_m.withColumn("mk", F.lit("call"))
                  .withColumn("src_verb", F.lit(None).cast("string"))
                  .unionByName(hm_cascade.withColumn("mk", F.lit("handler")),
                               allowMissingColumns=True))

    # java + csharp: receiver typed as an interface resolves to an
    # implementing class's method (java_resolver.rs:239-259,
    # cs_resolver.rs:215-262)
    trait_impls = None
    if gate("cascade.interface"):
        trait_impls = (mention.where((F.col("m_kind") == "implements")
                                     & F.col("lang").isin("java", "csharp"))
                       .selectExpr("repo", "lang", "src_name as cls",
                                   "dst_name as trait").distinct())

    # The call cascade (which materializes its own checkpoint + runs the
    # member-expr gate) and the shared symbol table are independent jobs —
    # round 2 measured ~300 s of SERIAL scheduler/planning latency across
    # ~800 mostly sub-second stages, the failed 0.8-efficiency target's
    # root cause.  Overlapping independent jobs lets the scheduler fill
    # idle cores and parallelizes Catalyst planning across driver threads.
    fut_resolve = pool.submit(
        resolve_calls, cascade_in, functions, instances, variables,
        imports_map, struct_fields, trait_impls=trait_impls)

    # ONE shared symbol table feeds the same-file-then-global edge families
    # (3 aggregation stages instead of ~12 per-family ones); eager: every
    # family job reads the materialized RDD instead of recomputing
    fut_symtab = pool.submit(
        lambda n: _ckpt(simple_link.build_symtab(n)), nodes)
    symtab = fut_symtab.result()

    # Families that depend only on nodes/mention/symtab are CONSTRUCTED here,
    # while the cascade's checkpoint jobs still execute on the pool thread:
    # each construction below runs eager Catalyst ANALYSIS (measured ~1.8 s
    # of driver-only time in the linking_declared span with every core
    # idle), and none of it needs the cascade's results — so the analysis
    # now overlaps the cascade's job execution instead of serializing after
    # it.  Construction order among these families is semantically inert
    # (pure lazy DataFrame builders).

    # add_instances keeps an Instance only when its data_type names an
    # existing Class (btreemap_graph.rs:238-255).  Applied for java, where
    # every typed declaration is an instance CANDIDATE (java.rs:127-159) —
    # the other languages' extractors emit pre-filtered instances.
    # The anti-join is applied ONLY where dropped instances matter
    # (instance_of input + the final node set) — reassigning `nodes` here
    # used to replay the anti-join inside every downstream family's plan.
    nodes_no_badinst = nodes
    if gate("instance_filter"):
        class_names = (symtab.where(F.col("t_Class").isNotNull())
                       .select("repo", "lang",
                               F.col("name").alias("data_type")))
        inst_drop = (nodes.where((F.col("node_type") == "Instance")
                                 & F.col("lang").isin(*INSTANCE_FILTER_LANGS))
                     .join(class_names, ["repo", "lang", "data_type"],
                           "left_anti")
                     .select("key_h"))
        nodes_no_badinst = nodes.join(inst_drop, "key_h", "left_anti")

    impl_edges = None
    if gate("implements"):
        impl_m = mention.where(F.col("m_kind") == "implements").select(
            "repo", "lang", "src_name", "src_file", "src_start", "dst_name")
        impl_edges = simple_link.resolve_implements(impl_m, symtab)

    # custom-handler_finder languages (python: same file / django module
    # paths, endpoint KEPT on miss); cascade languages get their Handler
    # edges from `hres` once the cascade resolves below, and endpoints whose
    # handler failed the cascade are DROPPED (format.rs:516-523 + default
    # handler_finder)
    py_handler_edges = None
    if gate("python_handlers"):
        py_handler_edges = simple_link.resolve_handlers(
            handler_m.where(F.col("lang") == "python"), nodes)

    # set-valued mentions: intersect the per-function identifier array with
    # the per-(repo,lang) symbol-name set FIRST, explode after — a
    # per-identifier row stream was the dominant shuffle volume at scale.
    # The name set is BUCKETED by name hash: one giant monorepo-language
    # slice with millions of distinct names would otherwise collect into a
    # single-row memory bomb; with B buckets each collected set is ~1/B of
    # the slice and every mention row meets at most B bucket rows.
    SET_BUCKETS = 16

    def explode_set(kind: str, symbol_type: str) -> DataFrame:
        name_sets = (nodes.where(F.col("node_type") == symbol_type)
                     .groupBy("repo", "lang",
                              F.pmod(F.xxhash64("name"),
                                     F.lit(SET_BUCKETS)).alias("_b"))
                     .agg(F.collect_set("name").alias("sym_names")))
        sets = mention.where(F.col("m_kind") == kind).select(
            "repo", "lang", "src_type", "src_name", "src_file", "src_start",
            "names")
        return (sets.join(name_sets, ["repo", "lang"], "inner")
                .select("repo", "lang", "src_type", "src_name", "src_file",
                        "src_start",
                        F.explode(F.array_intersect("names", "sym_names"))
                        .alias("dst_name")))

    var_edges = None
    if gate("function_vars"):
        import_bodies = (nodes.where(F.col("node_type") == "Import")
                         .select("repo", "lang",
                                 F.col("file").alias("src_file"),
                                 F.col("body").alias("import_body")))
        var_edges = simple_link.function_contains_vars(
            explode_set("ident_set", "Var"), nodes, import_bodies)

    imp_edges = None
    if gate("import_edges"):
        import_edge_m = mention.where(F.col("m_kind") == "import_edge").select(
            "repo", "lang", "src_name", "src_file", "src_start", "dst_name",
            "dst_file")
        imp_edges = simple_link.import_edges(import_edge_m, nodes)

    # EIGHT same-file-then-global families ride ONE symtab join (the fused
    # plan replaces eight per-family join/planning passes — their fixed cost
    # was the dominant serial fraction of the link plane at round 2)
    M_COLS = ["repo", "lang", "kind", "src_type", "src_name", "src_file",
              "src_start", "dst_name"]

    def tag(df, kind):
        return df.withColumn("kind", F.lit(kind)).select(*M_COLS)

    cls_nodes = nodes.where(F.col("node_type") == "Class")

    def node_m(df, src_type, dst_col, kind):
        return tag(df.select(
            "repo", "lang", F.lit(src_type).alias("src_type"),
            F.col("name").alias("src_name"), F.col("file").alias("src_file"),
            F.col("start").alias("src_start"), dst_col.alias("dst_name")),
            kind)

    # fused parts in union order; only the parts the census admits are
    # constructed, and with none there is no fused family
    fused_parts = {
        "operand": lambda: tag(
            mention.where(F.col("m_kind") == "operand_cls")
            .withColumn("src_type", F.lit("Function")), "operand"),
        "class_new": lambda: tag(
            mention.where((F.col("m_kind") == "call")
                          & (F.element_at("m_extra", "class_new") == "1")),
            "class_new"),
        "renders": lambda: tag(
            mention.where(F.col("m_kind") == "renders"), "renders"),
        "test_class": lambda: tag(
            mention.where(F.col("m_kind") == "test_class"), "test_class"),
        "dm": lambda: tag(explode_set("dm_set", "DataModel"), "dm"),
        "parent": lambda: node_m(
            cls_nodes.where(F.element_at("meta", "parent").isNotNull()),
            "Class", F.element_at("meta", "parent"), "parent"),
        "includes": lambda: node_m(
            cls_nodes.where(F.element_at("meta", "includes").isNotNull())
            .withColumn("inc", F.explode(
                F.split(F.element_at("meta", "includes"), ","))),
            "Class", F.trim("inc"), "includes"),
        "instance": lambda: node_m(
            nodes.where((F.col("node_type") == "Instance")
                        & F.col("data_type").isNotNull()),
            "Instance", F.col("data_type"), "instance"),
    }
    fused_in = [part() for kind, part in fused_parts.items()
                if gate(f"fused.{kind}")]
    fused_edges = None
    if fused_in:
        fused_edges = simple_link.fused_symtab_edges(
            reduce(DataFrame.unionByName, fused_in), symtab)
    ruby_dm_edges = (simple_link.ruby_dm_within(nodes)
                     if gate("ruby_dm_within") else None)

    php_handler = None
    if gate("php_handlers"):
        php_handler = simple_link.php_handler_edges(
            mention.where(F.col("m_kind") == "php_handler"), nodes)
    ng_renders = (simple_link.angular_renders(mention)
                  if gate("angular_renders") else None)
    api_edges = (api_link.link_requests_to_endpoints(nodes)
                 if gate("requests_endpoints") else None)
    itest_edges = (api_link.link_integration_tests(nodes)
                   if gate("integration_tests") else None)
    e2e_edges = (api_link.link_e2e_tests_pages(nodes)
                 if gate("e2e_pages") else None)
    e2e_testid_edges = (api_link.link_e2e_test_ids(nodes)
                        if gate("e2e_test_ids") else None)

    # ---- cascade results (the pool thread's jobs have been executing under
    # all of the analysis above) ----
    resolved_all, unresolved_calls = fut_resolve.result()
    resolved = resolved_all.where(F.col("mk") == "call")
    hres = resolved_all.where(F.col("mk") == "handler")
    call_edges = resolved.select(
        "repo", "lang",
        F.lit("Calls").alias("edge_type"),
        node_key_col(F.col("src_type"), F.col("src_name"), F.col("src_file"),
                     F.col("src_start")).alias("src_key"),
        node_key_col(F.lit("Function"), F.col("dst_name"), F.col("dst_file"),
                     F.col("dst_start")).alias("dst_key"),
        "operand", "confidence", "strategy")
    stage("calls_resolved")

    cascade_handler_edges = hres.select(
        "repo", "lang",
        F.lit("Handler").alias("edge_type"),
        node_key_col(F.col("src_type"), F.col("src_name"), F.col("src_file"),
                     F.col("src_start"), F.col("src_verb")).alias("src_key"),
        node_key_col(F.lit("Function"), F.col("dst_name"), F.col("dst_file"),
                     F.col("dst_start")).alias("dst_key"))
    handler_edges = _norm_edges(cascade_handler_edges)
    if py_handler_edges is not None:
        handler_edges = _norm_edges(py_handler_edges).unionByName(
            handler_edges)
    resolved_eps = hres.select(
        F.xxhash64(
            node_key_col(F.col("src_type"), F.col("src_name"), F.col("src_file"),
                         F.col("src_start"), F.col("src_verb"))).alias("key_h")
    ).distinct()
    all_cascade_eps = hm_cascade.where(~F.col("lang").isin(KEEP_ON_MISS)).select(
        F.xxhash64(
            node_key_col(F.col("src_type"), F.col("src_name"), F.col("src_file"),
                         F.col("src_start"), F.col("src_verb"))).alias("key_h")
    ).distinct()
    dropped_endpoints = all_cascade_eps.join(resolved_eps, "key_h", "left_anti")

    uses_edges = None
    if gate("uses"):
        uses_edges = simple_link.resolve_uses(
            unresolved_calls.where(F.col("mk") == "call"), imports_map,
            nodes)
    stage("linking_declared")

    # final node-plane filters — these depend only on the cascade/symtab
    # results, NOT on the edge union, so the prune plane's slim projection
    # over them can materialize CONCURRENTLY with the edge-union checkpoint
    # below and fill that job's straggler tail (VERDICT r05 #1: overlap the
    # next stage's jobs with the current checkpoint's tail).  The
    # indirect-test meta merge that used to sit between these filters and
    # prune is edge-dependent and moved AFTER the prune plane — prune only
    # removes nodes and never reads the endpoint meta keys it writes, so
    # the final table is identical.
    nodes_final = nodes_no_badinst
    if dropped_endpoints is not None:
        nodes_final = nodes_final.join(dropped_endpoints, "key_h", "left_anti")
    SLIM_COLS = ["key_h", "node_key", "node_type", "repo", "lang",
                 "name", "file", "start", "end", "meta"]
    fut_slim = pool.submit(lambda: _ckpt(nodes_final.select(*SLIM_COLS)))

    # materialize every family as a CONCURRENT job: the driver thread pool
    # overlaps their planning and their (mostly sub-second) stages, which
    # were serialized by the single union job in rounds 1-2 — the measured
    # scheduler-latency serial fraction that broke the scaling target
    # (None: a family the census gated out)
    fams = [f for f in (
        direct_edges, file_contains, call_edges, impl_edges, handler_edges,
        ruby_handler_edges, verb_handler_edges, var_edges, imp_edges,
        fused_edges, api_edges, itest_edges, e2e_edges, ruby_dm_edges,
        e2e_testid_edges, uses_edges, php_handler, ng_renders, fp_edges)
        if f is not None]
    # five families per job keep task binaries small; the dedup is layout-free
    groups = [fams[i:i + 5] for i in range(0, len(fams), 5)]

    def _sub(g):
        return _ckpt(reduce(DataFrame.unionByName, map(_norm_edges_h, g)))

    futs = [pool.submit(_sub, g) for g in groups]
    edges = reduce(DataFrame.unionByName, [f.result() for f in futs])
    # BTreeSet edge dedup (btreemap_graph.rs:51-55) over the materialized
    # family RDDs — one shuffle, shallow plan.  Dedup key is the surrogate
    # pair: a false merge needs two distinct edges colliding on BOTH 64-bit
    # endpoint hashes with the same edge_type (p ~ 1e-20 at 10^9 edges).
    edges = _ckpt(_edge_survivors(edges))
    stage("edges_linked")

    # indirect integration tests: IntegrationTest -CALLS-> helper whose body
    # issues a Request matching an Endpoint -> the endpoint node gains
    # meta.indirect_test / meta.test_helper (linker.rs:94-131).  Computed
    # from the pre-prune graph exactly as before; merged into the node
    # table AFTER the prune plane (see nodes_final comment above) — prune
    # never reads these keys and only removes nodes, so moving the merge
    # changes nothing in the output.
    #
    # CHECKPOINTED on a pool thread, concurrently with the prune plane's
    # materializations: the ~10-stage join subtree (tests x calls x fns x
    # requests x endpoints) used to ride uncomputed inside the final node
    # table's plan, where its analysis + serial AQE query-stage stepping
    # ran at count time on an otherwise-idle cluster (event logs: the
    # post-prune window's zero-task gaps).  The table is tiny (endpoints
    # that gained an indirect test) and its values are deterministic
    # (distinct sets + an order-insensitive min_by arg-min), so the
    # checkpoint cannot perturb the output.
    # arguments bound at submit time: the main thread rebinds `edges` to
    # the pruned table below while this job may still be planning
    fut_ind = None
    if gate("indirect_tests"):
        fut_ind = pool.submit(
            lambda n, e: _ckpt(api_link.indirect_test_endpoints(n, e)),
            nodes_final, edges)

    # fat-companion body table, same overlap treatment as `ind` (it
    # depends only on the RAW checkpoint): materializing it during the
    # prune plane takes its filter/key/dedup subtree out of the final node
    # plan's count-time AQE stepping.
    fut_fat = None
    if gate("fat_bodies"):
        fat_lazy = (_key(raw.where(F.col("rec") == "fat")
                         .select("node_type", "name", "file", "start", "body",
                                 "meta", "repo", "lang"))
                    .groupBy(F.xxhash64("node_key").alias("key_h"))
                    .agg(F.min("body").alias("_fat_body")))
        fut_fat = pool.submit(lambda: _ckpt(fat_lazy))

    # ---------------- prune plane ----------------
    from . import prune
    # a directive runs only where its language has the node type it removes
    directives = {}
    for lang, entries in prune.CLEAN_DIRECTIVES.items():
        for d in entries:
            if census.has("node", d[1], (lang,)):
                directives.setdefault(lang, []).append(d)
            else:
                skipped.append(f"prune.{lang}.{d[0]}")
    # full=nodes: the final payload materialization filters the PLAIN node
    # checkpoint by the pruned key set — `keys` already excludes the
    # instance-filter and endpoint-drop hits (slim was projected from
    # nodes_final), so re-running those anti-join subtrees inside the final
    # job would only duplicate work and deepen its plan
    nodes, edges = prune.prune_graph(nodes_final, edges, pool=pool,
                                     slim=fut_slim.result(), full=nodes,
                                     directives=directives)
    if fut_ind is not None:
        nodes = (nodes.join(fut_ind.result(), "key_h", "left")
                 .withColumn(
                     "meta",
                     F.when(F.col("indirect_test").isNotNull(),
                            F.map_concat(
                                F.coalesce("meta", F.create_map().cast(
                                    "map<string,string>")),
                                F.create_map(
                                    F.lit("indirect_test"),
                                    F.col("indirect_test"),
                                    F.lit("test_helper"),
                                    F.col("test_helper"))))
                     .otherwise(F.col("meta")))
                 .drop("indirect_test", "test_helper"))

    # ---- body restore — the ONLY pass that touches full bodies ----
    # inline (link-consumed) bodies + docs/hash ride the node table; 'span'
    # bodies are recomputed JVM-side from the source table with one join
    # keyed on (repo, lang, file) (the body_mode=='span' term keeps
    # non-span rows from matching); the rare non-span remainder comes from
    # the rec='fat' companion rows, one body per key_h
    # (materialized above, concurrently with the prune plane).
    src_lines = src.select(
        F.col("repo").alias("_sl_repo"), F.col("lang").alias("_sl_lang"),
        F.col("path").alias("_sl_file"),
        F.split(F.coalesce("content", F.lit("")), "\n").alias("_lines"))
    # the pruned node table already carries the payload columns (single
    # node checkpoint); only the fat companions and span text need joins
    base = (nodes.join(fut_fat.result(), "key_h", "left")
            if fut_fat is not None
            else nodes.withColumn("_fat_body", F.lit(None).cast("string")))
    joined = base.join(
        src_lines,
        (base["repo"] == F.col("_sl_repo"))
        & (base["lang"] == F.col("_sl_lang"))
        & (base["file"] == F.col("_sl_file"))
        & (base["body_mode"] == F.lit("span")), "left")
    span_txt = F.array_join(
        F.slice(F.col("_lines"), (F.col("start") + 1).cast("int"),
                F.greatest(F.col("end") - F.col("start") + 1,
                           F.lit(0)).cast("int")), "\n")
    span_body = F.when(
        F.coalesce("body_off", F.lit(0)) > 0,
        F.substring(span_txt, (F.col("body_off") + 1).cast("int"),
                    F.lit(2147483647))).otherwise(span_txt)
    nodes = (joined.withColumn(
        "body",
        F.when(F.col("body_mode") == "span", F.coalesce(span_body, F.lit("")))
        .when(F.col("body_mode") == "fat",
              F.coalesce("_fat_body", F.lit("")))
        .otherwise(F.coalesce("body", F.lit(""))))
        .select("node_type", "name", "file", "start", "end", "body",
                "docs", "hash", "data_type", "meta", "repo", "lang",
                "node_key"))
    stage("pruned")

    return GraphResult(nodes=nodes, edges=edges, metrics=metrics)
