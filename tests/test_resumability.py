"""Resume-from-checkpoint: a restarted run must skip already-extracted
(repo, lang) partitions — computed as an ANTI-JOIN against the manifest
parquet table (no driver-side partition list) — and produce the identical
graph; a completed link stage is not rebuilt."""

import json
import shutil
import tempfile


def test_resume_skips_done_partitions(spark):
    from stakgraph_spark.runner import PipelineRunner
    from stakgraph_spark.source import fixture_source_df

    workdir = tempfile.mkdtemp(prefix="kg_resume_")
    try:
        full = fixture_source_df(spark, {"python/web": "python",
                                         "python/cli": "python"})

        # first run: only one repo's partition
        r1 = PipelineRunner(spark, workdir, run_id="run1")
        out1 = r1.run(full.where(full.repo == "fixtures/python/web"))
        assert out1["extracted_partitions"] == 1
        assert out1["skipped_partitions"] == 0
        assert out1["link_rebuilt"]

        # restart over the FULL source: python/web must be skipped, the link
        # stage must rerun (new partitions arrived)
        r2 = PipelineRunner(spark, workdir, run_id="run2")
        out2 = r2.run(full)
        assert out2["skipped_partitions"] == 1
        assert out2["extracted_partitions"] == 1  # only python/cli
        assert out2["link_rebuilt"]

        # third run, nothing new: extract AND link are both skipped
        r3 = PipelineRunner(spark, workdir, run_id="run3")
        out3 = r3.run(full)
        assert out3["extracted_partitions"] == 0
        assert out3["skipped_partitions"] == 2
        assert not out3["link_rebuilt"]

        # the resumed graph equals a from-scratch build
        from stakgraph_spark.pipeline import build_graph
        g = build_graph(spark, full)
        fresh_nodes = {r.node_key for r in g.nodes.select("node_key").collect()}
        resumed_nodes = {r.node_key for r in
                         spark.read.parquet(out2["nodes_path"])
                         .select("node_key").collect()}
        assert fresh_nodes == resumed_nodes

        # manifest table + metrics artifacts exist with per-stage lineage
        manifest = spark.read.parquet(f"{workdir}/manifest")
        done = {(r["stage"], r["repo"]) for r in manifest.collect()}
        assert ("extract", "fixtures/python/web") in done
        assert ("extract", "fixtures/python/cli") in done
        assert ("link", "*") in done
        # human-readable mirror kept below the cap
        mirror = [json.loads(x) for x in open(f"{workdir}/pipeline_manifest.jsonl")]
        assert {m["status"] for m in mirror} == {"done"}
        metrics = [json.loads(x) for x in open(f"{workdir}/stage_metrics.jsonl")]
        link_stages = [m for m in metrics if m["stage"] == "link_materialize"]
        assert link_stages and "node_counts" in link_stages[-1]
        assert "edge_counts" in link_stages[-1]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_incremental_update_changed_partition(spark):
    """graph_ops.rs:95-274 analogue: re-running with CHANGED content in one
    partition re-extracts only that partition (fingerprint diff) and the
    final graph equals a from-scratch build of the new source."""
    import tempfile

    from pyspark.sql import functions as F

    from stakgraph_spark.runner import PipelineRunner
    from stakgraph_spark.source import fixture_source_df

    workdir = tempfile.mkdtemp(prefix="kg_incr_")
    try:
        v1 = fixture_source_df(spark, {"python/web": "python",
                                       "python/cli": "python"})
        r1 = PipelineRunner(spark, workdir, run_id="v1")
        out1 = r1.run(v1)
        assert out1["extracted_partitions"] == 2

        # v2: one repo's files change (simulated edit)
        v2 = v1.withColumn(
            "content",
            F.when(v1.repo == "fixtures/python/web",
                   F.concat(F.col("content"), F.lit("\n# edited\n")))
            .otherwise(F.col("content")))
        r2 = PipelineRunner(spark, workdir, run_id="v2")
        out2 = r2.run(v2)
        assert out2["extracted_partitions"] == 1  # only the changed repo
        assert out2["skipped_partitions"] == 1
        assert out2["link_rebuilt"]

        from stakgraph_spark.pipeline import build_graph
        fresh = build_graph(spark, v2)
        fresh_keys = {r.node_key for r in fresh.nodes.select("node_key").collect()}
        incr_keys = {r.node_key for r in
                     spark.read.parquet(out2["nodes_path"])
                     .select("node_key").collect()}
        assert fresh_keys == incr_keys
    finally:
        import shutil
        shutil.rmtree(workdir, ignore_errors=True)


def test_removed_partition_forces_link_rebuild(spark):
    """A (repo, lang) partition that disappears from the source must trigger
    a link rebuild (the old graph still contains the deleted repo) — and the
    removal tombstone makes the rebuild one-shot, not perpetual."""
    import shutil
    import tempfile

    from stakgraph_spark.runner import PipelineRunner
    from stakgraph_spark.source import fixture_source_df

    workdir = tempfile.mkdtemp(prefix="kg_rm_")
    try:
        full = fixture_source_df(spark, {"python/web": "python",
                                         "python/cli": "python"})
        r1 = PipelineRunner(spark, workdir, run_id="v1")
        r1.run(full)

        only_web = full.where(full.repo == "fixtures/python/web")
        r2 = PipelineRunner(spark, workdir, run_id="v2")
        out2 = r2.run(only_web)
        assert out2["extracted_partitions"] == 0
        assert out2["link_rebuilt"]  # cli vanished -> graph must shrink
        got = {r.repo for r in
               spark.read.parquet(out2["nodes_path"]).select("repo")
               .distinct().collect()}
        assert got == {"fixtures/python/web"}

        # same shrunken source again: nothing to do, no rebuild loop
        r3 = PipelineRunner(spark, workdir, run_id="v3")
        out3 = r3.run(only_web)
        assert not out3["link_rebuilt"]

        # the removed repo coming BACK is re-extracted (tombstone cleared)
        r4 = PipelineRunner(spark, workdir, run_id="v4")
        out4 = r4.run(full)
        assert out4["extracted_partitions"] == 1
        assert out4["link_rebuilt"]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_fulltext_index_stage(spark):
    """The optional fulltext-index stage (VERDICT r05 #5): the runner writes
    the inverted index hash-bucketed by term, a resume skips the stage when
    the graph wasn't rebuilt, the on-disk probe's plan prunes to the query
    terms' bucket partitions, and served results equal the direct
    fulltext_search over the same nodes."""
    import os

    from stakgraph_spark.query import fulltext_search, fulltext_search_on_disk
    from stakgraph_spark.runner import PipelineRunner
    from stakgraph_spark.source import fixture_source_df

    workdir = tempfile.mkdtemp(prefix="kg_ft_")
    try:
        src = fixture_source_df(spark, {"python/web": "python"})
        r1 = PipelineRunner(spark, workdir, run_id="ft1", fulltext_index=True)
        out1 = r1.run(src)
        assert out1["fulltext_rebuilt"]
        assert os.path.exists(os.path.join(out1["fulltext_path"], "_SUCCESS"))
        # bucket is a partition column: the layout prunes by term hash
        idx = spark.read.parquet(out1["fulltext_path"])
        assert "bucket" in idx.columns

        q = "person db session"
        nodes = spark.read.parquet(out1["nodes_path"])
        direct = fulltext_search(nodes, q, limit=50)
        served = fulltext_search_on_disk(spark, out1["fulltext_path"], q,
                                         limit=50)
        as_set = lambda df: {(r["node_key"], r["score"])  # noqa: E731
                             for r in df.collect()}
        assert as_set(direct) == as_set(served) and direct.count() > 0

        # the probe's scan carries a PartitionFilters entry on bucket —
        # i.e. genuine static partition pruning, not a full-index scan
        plan = (spark.read.parquet(out1["fulltext_path"])
                .where("bucket IN (1, 2)")._jdf.queryExecution()
                .executedPlan().toString())
        assert "bucket" in plan and "PartitionFilters" in plan

        # clean resume: graph not rebuilt => index stage skipped
        r2 = PipelineRunner(spark, workdir, run_id="ft2", fulltext_index=True)
        out2 = r2.run(src)
        assert not out2["link_rebuilt"] and not out2["fulltext_rebuilt"]
        metrics = [json.loads(x) for x in open(f"{workdir}/stage_metrics.jsonl")]
        ft = [m for m in metrics if m["stage"] == "fulltext_index"]
        assert len(ft) == 2 and ft[0]["rebuilt"] and not ft[1]["rebuilt"]
        assert ft[0]["distinct_terms"] > 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_runner_over_empty_source(spark):
    """A source with nothing to extract leaves no raw table and an empty
    graph; the runner builds over an empty extraction stream, and the next
    run in the same workdir still reads its graph back."""
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.runner import PipelineRunner
    from stakgraph_spark.schema import SOURCE_SCHEMA

    workdir = tempfile.mkdtemp(prefix="kg_empty_")
    try:
        out = PipelineRunner(spark, workdir, run_id="empty").run(
            spark.createDataFrame([], SOURCE_SCHEMA))
        assert out["extracted_partitions"] == 0
        assert out["link_rebuilt"]
        assert out["node_counts"] == {} and out["edge_counts"] == {}

        src = spark.createDataFrame(
            [("one", "app.py", "c0", "python",
              "def f():\n    return g()\n\ndef g():\n    return 1\n")],
            SOURCE_SCHEMA)
        out = PipelineRunner(spark, workdir, run_id="one").run(src)
        assert out["extracted_partitions"] == 1
        assert out["node_counts"]["Function"] == 2
        assert out["edge_counts"]["Calls"] == 1
        fresh = build_graph(spark, src)
        assert ({r["node_key"] for r in
                 spark.read.parquet(out["nodes_path"]).collect()}
                == {r["node_key"] for r in fresh.nodes.collect()})
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
