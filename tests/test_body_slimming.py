"""Body-slimming parity: node bodies that are stripped from the Arrow
stream (recomputed JVM-side from the source, schema.py RAW_SCHEMA header)
must come back byte-identical in the final graph.

The oracle is the extractor itself run directly in Python — whatever body a
language extractor produced for a node, the end-to-end graph must carry the
same text for the same (type, name, file, start).  Exercises all four modes:
inline (Import / tests / frontend Function), span (exact line span), span
with offset (python's indent-trimmed ast segments), and fat companion rows
(package-manifest Library lines, any non-span remainder).
"""

from __future__ import annotations

from stakgraph_spark.extract import extract_batch, get_extractor
from stakgraph_spark.extract.libs import extract_libs
from stakgraph_spark.pipeline import build_graph
from harness import source_df, source_rows

FIXTURES = {"python/web": "python", "go/web": "go"}


def _direct_bodies(rows) -> dict[tuple, str]:
    """(type, name, file, start) -> body straight from the extractors."""
    out: dict[tuple, str] = {}
    for r in rows:
        lex = extract_libs(r["lang"], r["path"], r["content"])
        ex = lex
        if ex is None:
            fn = get_extractor(r["lang"])
            if fn is None:
                continue
            ex = fn(r["path"], r["content"])
        for n in ex.nodes:
            out[(n.node_type, n.name, r["path"], n.start)] = n.body or ""
    return out


def test_graph_bodies_match_extractor_output(spark):
    rows = source_rows(FIXTURES)
    src = source_df(spark, FIXTURES)
    expected = _direct_bodies(rows)

    g = build_graph(spark, src)
    got = {(r["node_type"], r["name"], r["file"], r["start"]): r["body"] or ""
           for r in g.nodes.collect()}

    checked = 0
    for key, body in got.items():
        ntype = key[0]
        if ntype in ("File", "Directory", "Repository", "Language",
                     "Package", "Endpoint", "Import"):
            # synthetic / renamed-key node families are covered elsewhere
            continue
        if key in expected:
            assert body == expected[key], f"body mismatch for {key}"
            checked += 1
            if body:
                # classify for coverage accounting below
                pass
    # the fixture corpus must actually exercise non-trivial bodies
    nonempty = sum(1 for k, b in got.items() if b and k in expected)
    assert checked > 50, f"only {checked} nodes compared"
    assert nonempty > 30, "fixture corpus produced no real bodies"


def test_raw_stream_is_slim(spark):
    """The RAW stream must not carry span-recomputable bodies: every node
    row with a body is either a link-consumed type or has no cheaper mode,
    and span/fat bookkeeping is consistent."""
    import pandas as pd

    rows = source_rows(FIXTURES)
    pdf = pd.DataFrame([{k: r[k] for k in ("repo", "path", "lang", "content")}
                        for r in rows])
    out = pd.concat(list(extract_batch(iter([pdf]))))
    nodes = out[out["rec"] == "node"]
    fat = out[out["rec"] == "fat"]

    inline = nodes[nodes["body"].notna() & (nodes["body"] != "")]
    # python/go corpus: no frontend Functions, so only the three inline types
    assert set(inline["node_type"]) <= {"Import", "IntegrationTest",
                                        "E2eTest"}, \
        "non-link-consumed type kept an inline body"
    # python methods must ride the span+offset path, not fat rows
    spanned = nodes[nodes["body_mode"] == "span"]
    assert len(spanned) > 20
    assert (spanned["body"].isna() | (spanned["body"] == "")).all()
    # every fat-mode node row has exactly one companion fat row
    fat_nodes = nodes[nodes["body_mode"] == "fat"]
    fkeys = {(r.node_type, r.name, r.file, r.start)
             for r in fat.itertuples()}
    for r in fat_nodes.itertuples():
        assert (r.node_type, r.name, r.file, r.start) in fkeys
