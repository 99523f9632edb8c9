"""Graph read/query operators over materialized graph_nodes / graph_edges
(SURVEY.md §2E).

k_hop is the distributed traversal primitive: iterative frontier joins over
the edges DataFrame (each hop is one equi-join on src_key), bounded by
max_hops — the BackendTester's transitive endpoint->handler->DataModel check
(reference ast/src/testing/test_backend.rs:136-280) runs on it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType)

_TOKEN_RE = re.compile(r"[^a-z0-9_]+")


def _tokenize(name_body_cols) -> "F.Column":
    """lower(name ' ' body) split into _TOKEN_RE tokens — as a JVM column.

    NOT expressed as F.split(lower(x), '[^a-z0-9_]+'): (a) Catalyst's split
    goes through String.split, which re-compiles a multi-char pattern on
    EVERY row, and (b) on JDK 17 the 3-component class [^a-z0-9_] compiles
    to nested CharPredicate lambdas whose non-inlined dispatch is contended
    under concurrent tasks — measured 40x per-row CPU inflation at 32
    threads (0.03 -> 1.4 ms/row) vs the bitmap-compiled \\W.  Post-lower()
    the two classes are equivalent (no A-Z survive lowering; every non-ASCII
    char is in both), so tokenize as: collapse \\W+ runs to one space with
    regexp_replace (pattern compiled once per expression) and split on the
    single-space fast path (no regex machinery at all).  Token stream is
    identical; measured 3.1 s -> 0.25 s for the fulltext explode stage at
    sf1.0 / local[32]."""
    low = F.lower(F.concat_ws(" ", *name_body_cols))
    return F.split(F.regexp_replace(low, r"\W+", " "), " ", -1)


def k_hop(edges: DataFrame, seeds: DataFrame, edge_types: list[str],
          max_hops: int = 10) -> DataFrame:
    """All node keys reachable from `seeds` (single column `node_key`) via
    <= max_hops edges of the given types.  Each hop is a distributed
    frontier-to-edges join; the loop is driver-side but bounded and each
    iteration's data stays in DataFrames (no collect)."""
    e = (edges.where(F.col("edge_type").isin(edge_types))
         .select(F.col("src_key").alias("node_key"),
                 F.col("dst_key").alias("next_key")))
    # visited is a LAZY union of per-hop checkpointed frontiers: each hop's
    # anti-join scans the same total rows either way, but this never
    # rewrites the accumulated set (the old per-hop visited checkpoint was
    # O(V x hops) copy work)
    frontier = seeds.select("node_key").distinct().localCheckpoint()
    visited = frontier
    for _ in range(max_hops):
        nxt = (frontier.join(e, "node_key")
               .select(F.col("next_key").alias("node_key")).distinct()
               .join(visited, "node_key", "left_anti")
               .localCheckpoint())
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def bfs_distances(edges: DataFrame, seeds: DataFrame,
                  edge_types: list[str] | None = None,
                  max_hops: int = 10) -> DataFrame:
    """Minimum hop count from `seeds` (single column `node_key`) to every
    reachable node within max_hops — the distance core of the serving
    layer's shortest-path op (reference neo4j/graph_ops.rs:449-604,
    apoc/Cypher shortestPath) as iterative distributed frontier joins.

    Each hop is one equi-join of the (small) frontier against the edge
    table; visited-set semantics make each node's first discovery its BFS
    distance.  The loop is driver-side but bounded by max_hops and moves no
    rows through the driver.  At cluster scale the edge table should be
    pre-partitioned on src_key so every hop's join is co-located."""
    e = edges
    if edge_types is not None:
        e = e.where(F.col("edge_type").isin(edge_types))
    e = e.select(F.col("src_key").alias("node_key"),
                 F.col("dst_key").alias("next_key"))
    # same lazy-union visited accumulation as k_hop (no per-hop rewrite)
    frontier = (seeds.select("node_key").distinct()
                .withColumn("dist", F.lit(0)).localCheckpoint())
    visited = frontier
    for hop in range(1, max_hops + 1):
        nxt = (frontier.join(e, "node_key")
               .select(F.col("next_key").alias("node_key")).distinct()
               .join(visited.select("node_key"), "node_key", "left_anti")
               .withColumn("dist", F.lit(hop))
               .localCheckpoint())
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def shortest_path(edges: DataFrame, src_key: str, dst_key: str,
                  edge_types: list[str] | None = None,
                  max_hops: int = 10) -> list[str]:
    """One shortest src->dst path (node keys in order, [] if unreachable
    within max_hops) — the MCP shortest-path surface
    (neo4j/graph_ops.rs:449-604).  Forward BFS records a deterministic
    min() parent per first-discovered node; the backtrack walks at most
    max_hops single-row lookups, so only O(path length) rows ever reach
    the driver."""
    e = edges
    if edge_types is not None:
        e = e.where(F.col("edge_type").isin(edge_types))
    e = e.select(F.col("src_key").alias("node_key"),
                 F.col("dst_key").alias("next_key"))
    spark = edges.sparkSession
    visited = spark.createDataFrame([(src_key,)], "node_key string") \
        .localCheckpoint()
    frontier = visited
    parents: list[DataFrame] = []   # hop i: (node_key, parent)
    found = src_key == dst_key
    hops = 0
    while not found and hops < max_hops:
        hops += 1
        step = (frontier.join(e, "node_key")
                .groupBy(F.col("next_key").alias("nk"))
                .agg(F.min("node_key").alias("parent"))
                .select(F.col("nk").alias("node_key"), "parent")
                .join(visited, "node_key", "left_anti")
                .localCheckpoint())
        if step.isEmpty():
            return []
        parents.append(step)
        found = not step.where(F.col("node_key") == dst_key).isEmpty()
        visited = visited.unionByName(step.select("node_key"))
        frontier = step.select("node_key")
    if not found:
        return []
    path = [dst_key]
    for i in range(len(parents) - 1, -1, -1):
        row = parents[i].where(F.col("node_key") == path[-1]).collect()
        path.append(row[0]["parent"])
    return list(reversed(path))


def fulltext_search(nodes: DataFrame, query: str,
                    node_types: list[str] | None = None,
                    limit: int = 25) -> DataFrame:
    """Ranked keyword search over node name+body — the serving layer's
    fulltext index surface (reference neo4j/connection.rs:52-66 creates a
    Lucene fulltext index over node names/bodies) re-expressed without an
    index server: tokenize each node's name+body JVM-side, count
    occurrences of the query's terms, rank by total matches.

    Plan shape at scale: the token explode is a flatMap (no shuffle), the
    query-term probe is a broadcast semi-join against a literal array, and
    the score is one hash aggregation on node_key — top-K via TakeOrdered.
    A deployment that serves many queries materializes the exploded
    (term, node_key) inverted index once and equi-joins per query instead."""
    terms = [t for t in _TOKEN_RE.split(query.lower()) if t]
    if not terms:
        return nodes.select("node_key", "node_type", "name", "file",
                            F.lit(0).cast("long").alias("score")).limit(0)
    cand = nodes
    if node_types:
        cand = cand.where(F.col("node_type").isin(node_types))
    toks = cand.select(
        "node_key", "node_type", "name", "file",
        F.explode(_tokenize(["name", "body"])).alias("term"))
    hits = toks.where(F.col("term").isin(terms))
    return (hits.groupBy("node_key", "node_type", "name", "file")
            .agg(F.count("*").alias("score"))
            .orderBy(F.desc("score"), "node_key").limit(limit))


def build_fulltext_index(nodes: DataFrame) -> DataFrame:
    """Materialize the (term, node_key, tf) inverted index once — the
    many-queries deployment shape for fulltext_search (the reference keeps
    a standing Lucene index, connection.rs:52-66).  Write it out
    partitioned/bucketed by term so every query's probe is a pruned scan +
    co-located join instead of a full tokenize pass over node bodies."""
    toks = nodes.select(
        "node_key", "node_type", "name", "file",
        F.explode(_tokenize(["name", "body"])).alias("term"))
    return (toks.where(F.col("term") != "")
            .groupBy("term", "node_key", "node_type", "name", "file")
            .agg(F.count("*").alias("tf")))


FULLTEXT_BUCKETS = 64

# what a write_fulltext_index table reads back as (the partition column
# `bucket` last); reads pass it explicitly, since an index written from an
# empty node table leaves no parquet footer to infer one from
FULLTEXT_INDEX_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("node_key", StringType()),
    StructField("node_type", StringType()),
    StructField("name", StringType()),
    StructField("file", StringType()),
    StructField("tf", LongType()),
    StructField("bucket", IntegerType()),
])


def write_fulltext_index(nodes: DataFrame, path: str,
                         buckets: int = FULLTEXT_BUCKETS) -> None:
    """Write the inverted index hash-bucketed by term — the standing-index
    deployment (VERDICT r05 #5).  `bucket = pmod(xxhash64(term), B)` is a
    PARTITION column, so the layout is metastore-free bucketing: a query
    computes its terms' buckets and the scan prunes to those directories
    (B is fixed, so directory count never grows with the corpus; within a
    bucket, files are term-clustered by the repartition)."""
    idx = build_fulltext_index(nodes).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)))
    (idx.repartition("bucket").sortWithinPartitions("term")
        .write.mode("overwrite").partitionBy("bucket").parquet(path))


def term_buckets(spark, terms: list[str],
                 buckets: int = FULLTEXT_BUCKETS) -> list[int]:
    """Bucket ids for query terms — one tiny Spark job (xxhash64 is
    JVM-side), so the serving probe can pass LITERAL partition values and
    get static partition pruning."""
    if not terms:
        return []
    rows = (spark.createDataFrame([(t,) for t in terms], "term string")
            .select(F.pmod(F.xxhash64("term"), F.lit(buckets)).alias("b"))
            .collect())
    return sorted({int(r["b"]) for r in rows})


def fulltext_search_on_disk(spark, path: str, query: str,
                            node_types: list[str] | None = None,
                            limit: int = 25,
                            buckets: int = FULLTEXT_BUCKETS) -> DataFrame:
    """fulltext_search served from a write_fulltext_index table: the term
    probe prunes to the query terms' hash buckets (partition dirs) before
    the row-level term filter — per-query cost is O(matching buckets), not
    a scan of the whole index."""
    terms = [t for t in _TOKEN_RE.split(query.lower()) if t]
    idx = spark.read.schema(FULLTEXT_INDEX_SCHEMA).parquet(path)
    if not terms:
        return (idx.select("node_key", "node_type", "name", "file",
                           F.lit(0).cast("long").alias("score")).limit(0))
    idx = idx.where(F.col("bucket").isin(term_buckets(spark, terms, buckets)))
    return fulltext_search_indexed(idx, query, node_types, limit)


def fulltext_search_indexed(index: DataFrame, query: str,
                            node_types: list[str] | None = None,
                            limit: int = 25) -> DataFrame:
    """fulltext_search served from a pre-built inverted index — identical
    results (tested), but per-query cost is one pruned probe of the index
    instead of re-tokenizing every node body."""
    terms = [t for t in _TOKEN_RE.split(query.lower()) if t]
    out_cols = ["node_key", "node_type", "name", "file"]
    if not terms:
        return index.select(*out_cols,
                            F.lit(0).cast("long").alias("score")).limit(0)
    hits = index.where(F.col("term").isin(terms))
    if node_types:
        hits = hits.where(F.col("node_type").isin(node_types))
    return (hits.groupBy(*out_cols)
            .agg(F.sum("tf").alias("score"))
            .orderBy(F.desc("score"), "node_key").limit(limit))


def search_nodes(nodes: DataFrame, search: str | None = None,
                 node_types: list[str] | None = None,
                 language: str | None = None,
                 offset: int = 0, limit: int = 25) -> DataFrame:
    """Typed, paged node listing with a case-insensitive substring filter —
    the serving layer's query_nodes_with_count (graph_ops.rs:471-515)
    re-expressed as a declarative DataFrame query: filters push down to the
    graph_nodes parquet scan, and the page is a global top-K (sort + offset
    + limit), not a full materialization.

    At 100 TB, deep offset pagination is an anti-pattern (each page re-sorts
    the filtered set); callers paging beyond a few thousand rows should
    keyset-paginate on (node_type, node_key) instead — the sort key below is
    chosen so that works unchanged."""
    out = nodes
    if node_types:
        out = out.where(F.col("node_type").isin(node_types))
    if language:
        out = out.where(F.col("lang") == language)
    if search:
        needle = search.lower()
        out = out.where(F.lower(F.col("name")).contains(needle)
                        | F.lower(F.col("file")).contains(needle))
    return (out.orderBy("node_type", "node_key")
            .offset(offset).limit(limit))


def vector_search(nodes: DataFrame, query: str,
                  node_types: list[str] | None = None,
                  similarity_threshold: float = 0.0, limit: int = 10,
                  language: str | None = None,
                  backend: str = "hash") -> DataFrame:
    """Embedding similarity search over node bodies — the serving layer's
    vector_search (graph_ops.rs:449-469; cosine per
    neo4j/operations/embedding.rs:105) without a Neo4j vector index: node
    bodies are embedded in one Arrow-batched mapInPandas pass (model per
    worker, embedder.py contract) and scored against the driver-embedded
    query vector as a single JVM-side fold per row.

    Scale path: the brute-force scan is the oracle shape; a corpus-scale
    deployment pre-materializes the embedding column once and narrows
    candidates through the generic LSH path (textops.catalog.lsh_buckets)
    before scoring — same score expression, bucketed candidate set."""
    from .textops.embedder import make_embedder

    emb = make_embedder(backend)
    qv = emb.embed_batch([query])[0]

    cand = nodes.where(F.length(F.coalesce("body", F.lit(""))) > 0)
    if node_types:
        cand = cand.where(F.col("node_type").isin(node_types))
    if language:
        cand = cand.where(F.col("lang") == language)
    cand = cand.select("node_key", "node_type", "name", "file", "lang", "body")

    def embed(pdfs):
        e = make_embedder(backend)
        for pdf in pdfs:
            if len(pdf):
                pdf = pdf.assign(embedding=e.embed_batch(list(pdf["body"])))
                yield pdf.drop(columns=["body"])

    embedded = cand.mapInPandas(
        embed, ("node_key string, node_type string, name string, "
                "file string, lang string, embedding array<float>"))

    q = F.array(*[F.lit(float(x)) for x in qv])
    dot = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), q,
                   lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    # query vector is L2-normalized by the embedder contract; node vectors
    # likewise, so the dot IS the cosine — no per-row norm recompute
    return (embedded.withColumn("score", dot)
            .where(F.col("score") >= similarity_threshold)
            .drop("embedding")
            .orderBy(F.desc("score"), "node_key").limit(limit))


def find_resource_nodes(nodes: DataFrame, verb: str, path: str,
                        node_type: str = "Endpoint") -> DataFrame:
    """Endpoint/Request nodes whose name contains the normalized path and
    whose verb matches (find_resource_nodes, reference graph trait — the
    FrontendTester probes Request nodes, the BackendTester Endpoints)."""
    return (nodes.where(F.col("node_type") == node_type)
            .where(F.col("name").contains(path))
            .where(F.upper(F.element_at("meta", "verb")) == verb.upper()))


def coverage_stats(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-language test-coverage tiers (lang/graphs/coverage/*.rs):

      unit        targets = non-empty Functions, covered by
                  UnitTest -CALLS-> Function edges
      integration same targets, covered by IntegrationTest -CALLS-> Function
      e2e         targets = Endpoints, covered by E2eTest -CALLS-> Endpoint

    Returns (lang, tier, total_tests, total_targets, covered, pct).  The
    reference additionally subtracts Mock nodes from scope; its non-LSP
    builder never produces Mocks, so the term is identically zero here too."""
    calls = edges.where(F.col("edge_type") == "Calls")

    def tier(name, test_type, target_type, target_flt=None):
        targets = nodes.where(F.col("node_type") == target_type)
        if target_flt is not None:
            targets = targets.where(target_flt)
        tests = (nodes.where(F.col("node_type") == test_type)
                 .groupBy("lang").agg(F.count("*").alias("total_tests")))
        t_keys = targets.select("lang", "node_key")
        test_keys = nodes.where(F.col("node_type") == test_type) \
            .select(F.col("node_key").alias("src_key"))
        covered = (calls.join(test_keys, "src_key", "leftsemi")
                   .select(F.col("dst_key").alias("node_key")).distinct()
                   .join(t_keys, "node_key", "leftsemi"))
        tot = t_keys.groupBy("lang").agg(F.count("*").alias("total_targets"))
        cov = (t_keys.join(covered.select("node_key"), "node_key", "leftsemi")
               .groupBy("lang").agg(F.count("*").alias("covered")))
        return (tot.join(cov, "lang", "left").join(tests, "lang", "left")
                .select("lang", F.lit(name).alias("tier"),
                        F.coalesce("total_tests", F.lit(0)).alias("total_tests"),
                        "total_targets",
                        F.coalesce("covered", F.lit(0)).alias("covered"))
                .withColumn("pct", F.round(
                    F.col("covered") * 100.0
                    / F.greatest(F.col("total_targets"), F.lit(1)), 2)))

    nonempty = (F.length(F.coalesce("body", F.lit(""))) > 0) \
        if "body" in nodes.columns else F.lit(True)
    return (tier("unit", "UnitTest", "Function", nonempty)
            .unionByName(tier("integration", "IntegrationTest", "Function",
                              nonempty))
            .unionByName(tier("e2e", "E2eTest", "Endpoint")))


def handlers_for_endpoints(nodes: DataFrame, edges: DataFrame,
                           endpoints: DataFrame) -> DataFrame:
    """Function nodes reached by HANDLER edges from the given endpoints."""
    h = (edges.where(F.col("edge_type") == "Handler")
         .join(endpoints.select(F.col("node_key").alias("src_key")), "src_key",
               "leftsemi"))
    return nodes.join(h.select(F.col("dst_key").alias("node_key")),
                      "node_key", "leftsemi")


def functions_using_data_model(nodes: DataFrame, edges: DataFrame,
                               dm_name: str) -> DataFrame:
    """node keys of Functions with a CONTAINS edge to a DataModel whose name
    contains dm_name (check_direct_data_model_usage)."""
    dms = (nodes.where(F.col("node_type") == "DataModel")
           .where(F.lower(F.col("name")).contains(dm_name.lower()))
           .select(F.col("node_key").alias("dst_key")))
    c = (edges.where(F.col("edge_type") == "Contains")
         .join(dms, "dst_key", "leftsemi"))
    fns = nodes.where(F.col("node_type").isin("Function", "UnitTest",
                                              "IntegrationTest", "E2eTest"))
    return (fns.join(c.select(F.col("src_key").alias("node_key")),
                     "node_key", "leftsemi").select("node_key"))
