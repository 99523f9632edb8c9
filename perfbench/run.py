"""stakgraph_spark benchmark: seeded corpus, closed-loop graph builds, checks.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 1 \
        --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout.  One client, one Spark session on
local[<cores>], one operation at a time.  Set-up starts the session, then
generates the corpus from the seed and stages it as parquet, three times
(`setup_s` takes the median of those).  The run then builds back to back
until `--seconds` have passed, at least once.  An operation is `build_graph`
plus the digest of its nodes and edges, which is also the final count.  The
first build is the session's first, as for a batch job; with the run length
BENCHMARK.json sets, it is the only one.  Every build's digest must equal
the first one's, and the first graph must hold every planted edge.

The last line of stdout is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics, or with `--trace 1` the per-layer
metrics of BENCHMARK.json).  Lines before it are a readable report; the full
record of the run goes to `.perfbench/results/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from corpus import Shape, edited, make_corpus  # noqa: E402

import harness  # noqa: E402

WORKLOADS = {
    # many repos over all 15 languages: extraction and the link joins grow
    # with the data here
    "full_build": Shape(repos=30, files_per_slice=20),
    # one small repo in 2 languages: the build's fixed cost
    "small_build": Shape(repos=1, files_per_slice=12,
                         langs=("go", "react"), langs_per_repo=2),
}
SMOKE_SHAPE = Shape(repos=2, files_per_slice=3, langs=("go", "react"),
                    langs_per_repo=2)
SETUP_REPEATS = 3        # corpus generation + staging, median taken
# A run is kept near a minute, a traced one under a minute and a half, so
# that a long series of runs stays short.  After the traced build a traced
# run starts a step only when the step's cost, in multiples of that build's
# wall time, still ends within the budget; the rest of the run (event log,
# table, shutdown) takes about 10 s more.  Measured costs: the runner step
# (initial, incremental and a from-scratch build of the edited corpus) about
# 2.2 builds, `link.build` about 0.65.
TRACE_BUDGET_S = 80.0
RUNNER_COST = 2.4
LINK_COST = 0.75
SPARK_FREE_SAMPLE = 40   # files per language for the Spark-free table
STAMPS = ["file_plane", "raw_extracted", "nodes_assembled", "direct_edges",
          "calls_resolved", "linking_declared", "edges_linked", "pruned"]
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "wall_s_tail": "s",
             "files_per_s": "1/s", "cpu_s": "s",
             "planted_edge_recall": "ratio"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports in its JSON line."""
    units = {"extract.us_per_file": "us", "extract.rows_per_file": "count",
             "extract.parse_fail": "count", "extract.spark_s": "s",
             "extract.boundary_ratio": "ratio",
             "pipeline.file_plane_s": "s", "packages.detect_s": "s",
             "link.build_s": "s", "ckpt.count": "count",
             "spark.broadcast_joins": "count",
             "spark.sort_merge_joins": "count",
             "proc.core_util": "ratio", "proc.peak_rss_mb": "MB"}
    for st in STAMPS + ["materialize"]:
        units[f"plane.{st}_s"] = "s"
    for w in ["build"] + STAMPS + ["materialize"]:
        for f in ("jobs", "stages", "tasks", "task_core_s",
                  "deserialize_core_s", "shuffle_read_mb", "shuffle_write_mb",
                  "spill_mb", "driver_only_s"):
            unit = ("count" if f in ("jobs", "stages", "tasks")
                    else "MB" if f.endswith("_mb") else "s")
            units[f"spark.{w}.{f}" if w != "build" else f"spark.{f}"] = unit
    return units


class Run:
    """One benchmark process: its scratch space, session and corpus."""

    def __init__(self, workload: str, seed: int, shape: Shape, trace: bool,
                 tag: str = ""):
        self.workload, self.seed, self.shape, self.tag = (
            workload, seed, shape, tag)
        base = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(base, f"run-{os.getpid()}")
        self.results = os.path.join(base, "results")
        os.makedirs(self.results, exist_ok=True)
        self.evlog = os.path.join(self.work, "eventlog") if trace else None
        self.spark = None

    # -------------------------------------------------------------- set-up
    def stage(self, corpus) -> str:
        """Write the corpus as a parquet table of one file per shuffle
        partition, without Spark, so the session's first job is the
        build's."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.work, f"src-{time.perf_counter_ns()}")
        os.makedirs(path)
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        cols = ("repo", "path", "commit", "lang", "content")
        for i in range(n):
            part = corpus.rows[i::n]
            pq.write_table(pa.table({c: pa.array([r[c] for r in part],
                                                 pa.string())
                                     for c in cols}),
                           os.path.join(path, f"part-{i:05d}.parquet"))
        return path

    def prepare(self, repeats: int) -> dict:
        """Start the session, then generate and stage the corpus `repeats`
        times (the last copy is used)."""
        n_files = len(make_corpus(self.seed, self.shape).rows)
        t0 = time.perf_counter()
        self.spark = harness.start_session(ROOT, self.work, n_files,
                                           self.evlog)
        session_s = time.perf_counter() - t0
        prep = []
        for _ in range(repeats):
            t = time.perf_counter()
            corpus = make_corpus(self.seed, self.shape)
            path = self.stage(corpus)
            prep.append(time.perf_counter() - t)
        self.corpus = corpus
        self.src = self.spark.read.parquet(path)
        return {"session_s": session_s, "prep_s": prep}

    # ----------------------------------------------------------- operation
    def operation(self, src=None) -> dict:
        """build_graph + digests; the graph is kept for the recall check."""
        from stakgraph_spark.pipeline import build_graph

        g = build_graph(self.spark, self.src if src is None else src)
        return {"digest": harness.graph_digest(g.nodes, g.edges),
                "graph": g}

    def timed_ops(self, seconds: float) -> dict:
        """Build back to back until `seconds` have passed, at least once.
        The first build is the session's first; its digest is the one every
        later build must match, and its graph is checked for the planted
        edges."""
        from stakgraph_spark.ckpt import release_all

        walls, cpus, failed = [], [], 0
        reference = recall = None
        t_end = time.perf_counter() + seconds
        while not walls or time.perf_counter() < t_end:
            release_all()
            c0, t0 = harness.tree_cpu_s(), time.perf_counter()
            try:
                out = self.operation()
                wall, cpu = time.perf_counter() - t0, harness.tree_cpu_s() - c0
                if reference is None:
                    reference = out["digest"]
                    g = out["graph"]
                    recall = harness.planted_recall(
                        g.nodes, g.edges, self.corpus.planted)
                ok = harness.same_graph(out["digest"], reference)
            except Exception as e:  # a failed operation is counted, not fatal
                print(f"# operation failed: {e!r}"[:500])
                wall, cpu, ok = time.perf_counter() - t0, 0.0, False
            walls.append(wall)
            cpus.append(cpu)
            failed += not ok
        return {"walls": walls, "cpus": cpus, "failed": failed,
                "digest": reference, "recall": recall or {"all": 0.0}}

    def close(self):
        if self.spark is not None:
            harness.stop_session(self.spark)
            self.spark = None

    def cleanup(self):
        shutil.rmtree(self.work, ignore_errors=True)


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, or the
    maximum when the sample is smaller than that supports."""
    n = len(values)
    s = sorted(values)
    for p in (99.9, 99, 90):
        if n * (1 - p / 100) >= 10:
            return s[min(n - 1, int(n * p / 100))], f"p{p:g} of {n}"
    return s[-1], f"max of {n}"


def run_untraced(run: Run, seconds: float) -> tuple[dict, dict]:
    setup = run.prepare(SETUP_REPEATS)
    setup_s = setup["session_s"] + statistics.median(setup["prep_s"])
    ops = run.timed_ops(seconds)
    recall = ops.pop("recall")
    n_files = len(run.corpus.rows)
    wall = statistics.median(ops["walls"])
    tail_v, tail_desc = tail(ops["walls"])
    metrics = {"setup_s": setup_s, "wall_s": wall,
               "wall_s_tail": tail_v, "files_per_s": n_files / wall,
               "cpu_s": statistics.median(ops["cpus"]),
               "planted_edge_recall": recall["all"]}
    attempted = len(ops["walls"])
    record = {"setup": setup, "ops": ops, "recall": recall, "files": n_files,
              "wall_s_tail": tail_desc,
              "fail_ratio": ops["failed"] / attempted}
    correct = recall["all"] == 1.0 and ops["failed"] == 0
    print(f"# {run.workload} seed={run.seed} files={n_files} "
          f"builds={attempted} walls={[round(w, 2) for w in ops['walls']]} "
          f"cpu={[round(c, 1) for c in ops['cpus']]} tail={tail_desc} "
          f"fail_ratio={record['fail_ratio']}")
    print(f"# setup: session {setup['session_s']:.2f}s, corpus "
          f"{[round(p, 2) for p in setup['prep_s']]}s; recall {recall}")
    return ({"correct": correct, "attempted": attempted,
             "failed": ops["failed"],
             "metrics": {k: {"value": v, "unit": E2E_UNITS[k]}
                         for k, v in metrics.items()}}, record)


def untraced_median(run: Run, workload: str) -> float | None:
    """Median `wall_s` of the untraced runs of `workload` (of the same
    shape as `run`) kept in the results directory, or None."""
    walls = []
    for name in os.listdir(run.results):
        if name.startswith(f"{run.tag}{workload}-seed") and \
                name.endswith("-trace0.json"):
            with open(os.path.join(run.results, name)) as f:
                walls.append(json.load(f)["metrics"]["wall_s"]["value"])
    return statistics.median(walls) if walls else None


def run_traced(run: Run, budget: float) -> tuple[dict, dict]:
    """Event log on; one traced operation split at the build's own stamps,
    then the layers called one at a time from outside, as far as `budget`
    seconds allow."""
    from stakgraph_spark.ckpt import release_all
    from stakgraph_spark.schema import SOURCE_SCHEMA

    import evlog
    import layers

    started = time.time()
    run.prepare(1)
    win = layers.Windows()
    checks, runner = {}, {}
    # the traced build is the session's first, like the untraced one
    c0 = harness.tree_cpu_s()
    with harness.TreeSampler() as sampler:
        out = win.timed("build", run.operation)
    cpu = harness.tree_cpu_s() - c0
    ref = out["digest"]
    recall = harness.planted_recall(out["graph"].nodes, out["graph"].edges,
                                    run.corpus.planted)
    checks["recall"] = recall["all"] == 1.0
    stamps = out["graph"].metrics
    del out
    # plane windows end at the build's own stamps; a stamp the build no
    # longer records leaves its plane an empty window
    start, t_end = win.spans["build"]
    ends = {s["stage"]: start + s["t"] for s in stamps}
    ends["materialize"] = t_end
    names, lo = STAMPS + ["materialize"], start
    for nm in names:
        hi = ends.get(nm, lo)
        win.spans[f"plane.{nm}"] = (lo, hi)
        lo = hi

    release_all()
    layers.plane_calls(run.spark, run.src, win)
    release_all()
    wall = win.seconds("build")

    def fits(cost: float) -> bool:
        return time.time() - started + cost * wall < budget

    skipped = []
    if run.workload == "small_build" and fits(RUNNER_COST):
        # incremental update: the runner builds version A from an empty
        # workdir, then version B, which edits one (repo, lang) partition;
        # its graphs must equal the traced build of A and a from-scratch
        # build of B
        runner_dir = os.path.join(run.work, "runner")
        d_a, _ = layers.runner_call(run.spark, runner_dir, run.src, "a", win,
                                    "runner.initial", harness.graph_digest)
        checks["runner_initial_digest"] = harness.same_graph(d_a, ref)
        version_b = edited(run.corpus)
        src_b = run.spark.createDataFrame(version_b.rows, SOURCE_SCHEMA)
        d_b, runner = layers.runner_call(
            run.spark, runner_dir, src_b, "b", win, "runner.incremental",
            harness.graph_digest)
        checks["runner_one_partition"] = \
            runner["runner.partitions_extracted"] == 1
        release_all()
        checks["runner_incremental_digest"] = harness.same_graph(
            d_b, layers.link_build(run.spark, src_b, win,
                                   harness.graph_digest))
    else:
        if run.workload == "small_build":
            skipped.append("runner")
        if fits(LINK_COST):
            checks["link_build_digest"] = harness.same_graph(
                layers.link_build(run.spark, run.src, win,
                                  harness.graph_digest), ref)
        else:
            # too late for another build: `link.build_s` is then the
            # traced build's own time after extraction
            skipped.append("link.build")
            win.spans["link.build"] = (ends.get("raw_extracted", start),
                                       t_end)

    table = layers.spark_free_extraction(run.corpus.rows, SPARK_FREE_SAMPLE,
                                         run.seed)
    run.close()

    events = evlog.read_events(run.evlog)
    ev = evlog.window_metrics(events, win.spans)
    joins = evlog.join_counts(events, *win.spans["build"])
    files = {lang: t["files"] for lang, t in table.items()}
    n_files = sum(files.values())
    free_s = sum(t["us_per_file"] * files[lang] / 1e6
                 for lang, t in table.items())
    m = {
        "extract.us_per_file": free_s / n_files * 1e6,
        "extract.rows_per_file": sum(t["rows_per_file"] * files[lang]
                                     for lang, t in table.items()) / n_files,
        "extract.parse_fail": sum(t["parse_fail"] for t in table.values()),
        "extract.spark_s": win.seconds("extract.spark"),
        "extract.boundary_ratio":
            ev["extract.spark"]["task_core_s"] / free_s,
        "pipeline.file_plane_s": win.seconds("pipeline.file_plane"),
        "packages.detect_s": win.seconds("packages.detect"),
        "link.build_s": win.seconds("link.build"),
        "ckpt.count": ev["build"]["checkpoint_jobs"],
        "spark.broadcast_joins": joins["BroadcastHashJoin"],
        "spark.sort_merge_joins": joins["SortMergeJoin"],
        "proc.core_util": cpu / (wall * harness.cores()),
        "proc.peak_rss_mb": sampler.peak_mb,
    }
    for nm in names:
        m[f"plane.{nm}_s"] = win.seconds(f"plane.{nm}")
    for w in ["build"] + names:
        key = "build" if w == "build" else f"plane.{w}"
        for f in evlog.FIELDS:
            m[f"spark.{f}" if w == "build" else f"spark.{w}.{f}"] = \
                ev[key][f]
    units = per_layer_units()
    missing = sorted(set(units) - set(m))
    if missing:
        raise RuntimeError(f"traced run lacks metrics {missing}")

    # tracing overhead: this traced build against the median untraced
    # build of the workload recorded in this checkout; the data-proportional
    # share of a build: its wall above the small_build median (the fixed
    # cost of a build), when those runs exist here
    overhead = untraced_median(run, run.workload)
    floor = untraced_median(run, "small_build")
    extra = {f"extract.{lang}.{k}": t[k] for lang, t in table.items()
             for k in ("us_per_file", "mb_per_s", "rows_per_file",
                       "parse_fail")}
    extra.update(runner)
    extra["trace.overhead_s"] = None if overhead is None else wall - overhead
    if run.workload != "small_build" and floor is not None:
        extra["data_share_above_small_floor"] = 1 - floor / wall
    extra["extract.spark_free_s"] = free_s
    record = {"checks": checks, "recall": recall, "windows": win.spans,
              "joins": joins, "skipped_for_time": skipped,
              "event_log": ev, "extra": extra, "table": table,
              "stamps": stamps}
    with open(os.path.join(run.results,
                           f"{run.tag}extract-{run.workload}-seed{run.seed}"
                           ".md"),
              "w") as f:
        f.write(layers.table_markdown(table))
    print(f"# {run.workload} traced: build {wall:.2f}s, checks {checks}, "
          f"skipped for time {skipped}")
    print("# " + layers.table_markdown(table).replace("\n", "\n# "))
    for k, v in sorted(extra.items()):
        print(f"# {k} = {v}")
    failed = sum(not ok for ok in checks.values())
    return ({"correct": failed == 0, "attempted": len(checks),
             "failed": failed,
             "metrics": {k: {"value": m[k], "unit": u}
                         for k, u in units.items()}}, record)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus, every workload once, check the output")
    ap.add_argument("--shape", choices=["smoke"], help=argparse.SUPPRESS)
    ap.add_argument("--trace-budget", type=float, default=TRACE_BUDGET_S,
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.smoke:
        import smoke

        return smoke.main(os.path.abspath(__file__))
    if not args.workload:
        ap.error("--workload is required")
    shape = SMOKE_SHAPE if args.shape else WORKLOADS[args.workload]
    import stakgraph_spark  # noqa: F401  (fail fast outside a checkout)

    run = Run(args.workload, args.seed, shape, bool(args.trace),
              "smoke-" if args.shape else "")
    try:
        if args.trace:
            result, record = run_traced(run, args.trace_budget)
        else:
            result, record = run_untraced(run, args.seconds)
    finally:
        run.close()
        run.cleanup()
    record["session"] = harness.session_conf(
        run.work, len(run.corpus.rows), run.evlog)
    name = f"{run.tag}{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(run.results, name), "w") as f:
        json.dump({**result, "record": record}, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
