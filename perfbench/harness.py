"""Spark session, process-tree accounting and output checks for the benchmark.

Everything here treats `stakgraph_spark` as a black box: it builds the
session the package runs in, reads the public `GraphResult` tables, and
measures the process tree from `/proc`.
"""

from __future__ import annotations

import os
import threading
import time

# Session settings owned by the benchmark (`session_conf`); every result
# record under .perfbench/results/ carries the values a run used.  Shuffle
# partitions follow the rule bench.py uses: the core count, raised by one
# partition per 300 files up to four per core.  The broadcast threshold
# sits between the symbol tables of the two workloads' corpora (tens of KB
# for small_build, several hundred KB for full_build), so both join paths
# run.  A run holds one cold build, and on a few cores a cold build is
# bound by the CPU the JVM spends compiling: with whole-stage code
# generation off and the parallel collector instead of G1, a build on 4
# vCPUs took about 10% less wall and CPU time, with the same graph.
DRIVER_MEM_CAP_GB = 8
BROADCAST_THRESHOLD = "256k"

NODE_COLS = ["node_type", "name", "file", "start", "end", "body", "docs",
             "hash", "data_type", "meta", "repo", "lang", "node_key"]
EDGE_KEY_COLS = ["src_key", "dst_key", "edge_type"]
EDGE_COLS = EDGE_KEY_COLS + ["operand", "confidence", "strategy", "repo",
                             "lang"]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A third of physical RAM, capped: the JVM heap plus one Python worker
    per core must fit beside whatever else the machine runs."""
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return max(2, min(DRIVER_MEM_CAP_GB, kb // (3 * 1024 * 1024)))


def shuffle_partitions(files: int) -> int:
    n = cores()
    return max(n, min(4 * n, files // 300))


def session_conf(work: str, files: int, event_log: str | None) -> dict:
    conf = {
        "spark.master": f"local[{cores()}]",
        "spark.app.name": "stakgraph-perfbench",
        "spark.driver.memory": f"{driver_mem_gb()}g",
        "spark.sql.shuffle.partitions": str(shuffle_partitions(files)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
        "spark.sql.autoBroadcastJoinThreshold": BROADCAST_THRESHOLD,
        "spark.sql.constraintPropagation.enabled": "false",
        "spark.sql.codegen.wholeStage": "false",
        "spark.rdd.compress": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-XX:+UseParallelGC "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def start_session(root: str, work: str, files: int,
                  event_log: str | None = None):
    """Start Spark with Python workers that import the package from `root`,
    whatever the current directory, and with every scratch file in `work`."""
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    if event_log:
        os.makedirs(event_log, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM, the launcher's included, writes /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in session_conf(work, files, event_log).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM, then wait for every process they started."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    while time.time() < deadline:
        tree = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not tree:
            return
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# --------------------------------------------------------------- /proc tree

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant, including what
    each has collected from children it already reaped (Python workers)."""
    root = os.getpid()
    total = 0
    for p in [root] + descendants(root):
        st = _stat(p)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cu cs
    return total / _TICK


def tree_rss_mb() -> float:
    root = os.getpid()
    total = 0
    for p in [root] + descendants(root):
        st = _stat(p)
        if st:
            total += int(st[21]) * os.sysconf("SC_PAGE_SIZE")
    return total / 2**20


class TreeSampler:
    """Samples the process tree's RSS in a background thread; `peak_mb`."""

    def __init__(self, every: float = 0.5):
        self.every, self.peak_mb = every, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.every):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


# ------------------------------------------------------------------ checks

def _digest_cols(df, cols):
    from pyspark.sql import functions as F

    out = []
    for c in cols:
        t = df.schema[c].dataType.typeName()
        if t == "map":
            # maps are unordered and unhashable: hash their sorted entries
            out.append(F.array_sort(F.map_entries(c)))
        elif c in ("repo", "lang"):
            # a (repo, lang)-partitioned parquet table reads '' back as null
            out.append(F.coalesce(F.col(c), F.lit("")))
        else:
            out.append(F.col(c))
    return out


def digest(df, key_cols, info_cols=None) -> dict:
    """count + sum + xor of xxhash64 over `key_cols` (one Spark job); with
    `info_cols`, the same three for that wider row ride along."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*_digest_cols(df, key_cols))
    aggs = [F.count(F.lit(1)).alias("n"),
            F.sum(h.cast("decimal(38,0)")).alias("sum"),
            F.bit_xor(h).alias("xor")]
    if info_cols:
        hi = F.xxhash64(*_digest_cols(df, info_cols))
        aggs += [F.sum(hi.cast("decimal(38,0)")).alias("info_sum"),
                 F.bit_xor(hi).alias("info_xor")]
    r = df.agg(*aggs).first()
    return {k: (str(v) if v is not None else None)
            for k, v in r.asDict().items()}


def graph_digest(nodes, edges) -> dict:
    """The graph's identity: nodes over every column, edges over
    (src_key, dst_key, edge_type).  The edge survivor columns are recorded
    apart, as information only: which duplicate survives the edge dedup can
    depend on partition layout."""
    n = digest(nodes, NODE_COLS)
    e = digest(edges, EDGE_KEY_COLS, EDGE_COLS)
    return {"nodes": n,
            "edges": {k: e[k] for k in ("n", "sum", "xor")},
            "edges_full_row": {"sum": e["info_sum"], "xor": e["info_xor"]}}


def same_graph(a: dict, b: dict) -> bool:
    return a["nodes"] == b["nodes"] and a["edges"] == b["edges"]


def planted_recall(nodes, edges, planted: list[tuple]) -> dict:
    """Share of planted edges present in the graph, per planting kind.  The
    graph's node ends and its edges of the planted types are collected and
    matched here: two scans, no join to plan."""
    from pyspark.sql import functions as F

    ends = {r[0]: r[1:] for r in nodes.select(
        "node_key", "repo", "node_type", "name", "file").collect()}
    types = sorted({p[2] for p in planted})
    found = set()
    for src, dst, etype in (edges.where(F.col("edge_type").isin(types))
                            .select(*EDGE_KEY_COLS).collect()):
        s, d = ends.get(src), ends.get(dst)
        if s and d:
            found.add((s[0], etype, *s[1:], *d[1:]))
    total: dict[str, int] = {}
    got: dict[str, int] = {}
    for p in set(planted):
        total[p[0]] = total.get(p[0], 0) + 1
        got[p[0]] = got.get(p[0], 0) + (p[1:] in found)
    per = {k: got[k] / n for k, n in sorted(total.items())}
    per["all"] = sum(got.values()) / max(1, sum(total.values()))
    return per
