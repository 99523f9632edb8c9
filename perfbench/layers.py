"""Outside-in layer calls for the traced run.

Each call goes through a public entry point of `stakgraph_spark`, is timed
from here, and records its wall-clock window so the event log can attribute
Spark jobs to it.
"""

from __future__ import annotations

import os
import time

import pandas as pd


class Windows:
    """Named wall-clock windows, in epoch seconds."""

    def __init__(self):
        self.spans: dict[str, tuple[float, float]] = {}

    def timed(self, name: str, fn, *args, **kwargs):
        t0 = time.time()
        out = fn(*args, **kwargs)
        self.spans[name] = (t0, time.time())
        return out

    def seconds(self, name: str) -> float:
        a, b = self.spans[name]
        return b - a


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def spark_free_extraction(rows: list[dict], per_lang: int,
                          seed: int) -> dict[str, dict]:
    """Time `extract_batch` (extractor + `extraction_to_rows`) per language
    on up to `per_lang` files of that language, in this process.  A file
    whose extractor raises is counted in `parse_fail` by a second pass that
    calls the extractor alone."""
    import random

    from stakgraph_spark.extract import extract_batch, get_extractor
    from stakgraph_spark.langspec import MAX_FILE_SIZE

    by_lang: dict[str, list[dict]] = {}
    for r in rows:
        # files over the size limit are never parsed
        if len(r["content"].encode()) <= MAX_FILE_SIZE:
            by_lang.setdefault(r["lang"], []).append(r)
    rng = random.Random(seed)
    table = {}
    for lang in sorted(by_lang):
        files = by_lang[lang]
        sample = files if len(files) <= per_lang else rng.sample(files,
                                                                 per_lang)
        pdf = pd.DataFrame({c: [r[c] for r in sample]
                            for c in ("repo", "path", "lang", "content")})
        fn = get_extractor(lang)   # imports the extractor outside the timing
        t0 = time.perf_counter()
        n_rows = sum(len(b) for b in extract_batch(iter([pdf])))
        dt = time.perf_counter() - t0
        fails = 0
        for r in sample:
            try:
                fn(r["path"], r["content"])
            except Exception:  # the failure itself is what is counted
                fails += 1
        nbytes = sum(len(r["content"].encode()) for r in sample)
        table[lang] = {"files": len(files), "sampled": len(sample),
                       "us_per_file": dt / len(sample) * 1e6,
                       "mb_per_s": nbytes / 2**20 / dt,
                       "rows_per_file": n_rows / len(sample),
                       "parse_fail": fails}
    return table


def table_markdown(table: dict[str, dict]) -> str:
    head = ("| lang | files | sampled | µs/file | MB/s | rows/file | "
            "parse_fail |\n|---|---|---|---|---|---|---|\n")
    return head + "".join(
        f"| {lang} | {t['files']} | {t['sampled']} | {t['us_per_file']:.0f} "
        f"| {t['mb_per_s']:.2f} | {t['rows_per_file']:.1f} | "
        f"{t['parse_fail']} |\n" for lang, t in table.items())


def plane_calls(spark, src, win: Windows) -> None:
    """file plane, package detection and extraction, each to a noop sink;
    extraction sees the same partitioning `build_graph` gives it."""
    from pyspark.sql import functions as F

    from stakgraph_spark.extract import extract_raw
    from stakgraph_spark.packages import detect_packages
    from stakgraph_spark.pipeline import file_plane
    from stakgraph_spark.source import with_skip_flags

    flagged = with_skip_flags(src)

    def both(pair):
        for df in pair:
            _noop(df)

    win.timed("pipeline.file_plane", lambda: both(file_plane(flagged)))
    win.timed("packages.detect", lambda: both(detect_packages(flagged)))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parsed = (flagged.repartition(n_part, "repo", "lang", "path")
              .where(F.col("skipped").isNull()))
    win.timed("extract.spark", lambda: _noop(extract_raw(parsed)))


def link_build(spark, src, win: Windows, graph_digest) -> dict:
    """`build_graph` over a materialized extraction stream: everything after
    extraction.  -> the graph's digest."""
    from pyspark.sql import functions as F

    from stakgraph_spark.extract import extract_raw
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.source import with_skip_flags

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    raw = extract_raw(with_skip_flags(src)
                      .repartition(n_part, "repo", "lang", "path")
                      .where(F.col("skipped").isNull())).localCheckpoint()

    def run():
        g = build_graph(spark, src, raw=raw)
        return graph_digest(g.nodes, g.edges)

    return win.timed("link.build", run)


def _bytes_since(path: str, t0: float) -> int:
    """Bytes in files under `path` written at or after `t0`."""
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= t0:
                total += st.st_size
    return total


def runner_call(spark, workdir: str, src, run_id: str, win: Windows,
                name: str, graph_digest) -> tuple[dict, dict]:
    """One `PipelineRunner.run` over `src` in `workdir`.  -> the digest of
    the graph it wrote, and its layer figures from `stage_metrics.jsonl`
    plus the bytes it wrote."""
    import json

    from stakgraph_spark.runner import PipelineRunner

    out = win.timed(name, PipelineRunner(spark, workdir, run_id=run_id).run,
                    src)
    written = _bytes_since(workdir, win.spans[name][0])
    digest = graph_digest(spark.read.parquet(out["nodes_path"]),
                          spark.read.parquet(out["edges_path"]))
    stages = {}
    with open(os.path.join(workdir, "stage_metrics.jsonl")) as f:
        for ln in f:
            m = json.loads(ln)
            if m["run_id"] == run_id:
                stages[m["stage"]] = m
    return digest, {
        "runner.extract_ms": stages["extract"]["duration_ms"],
        "runner.link_materialize_ms":
            stages["link_materialize"]["duration_ms"],
        "runner.partitions_extracted":
            stages["extract"]["partitions_extracted"],
        "runner.bytes_written_mb": written / 2**20,
        "runner.run_s": win.seconds(name),
    }
