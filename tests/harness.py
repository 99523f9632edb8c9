"""@ast annotation harness — mirrors the reference verifier semantics
(/root/reference/ast/src/testing/annotations.rs:137-404):

* ``node:``   recall item — node of type+name exists in a file ending with the
              annotation's own file suffix (meta [k=v] filters must match)
* ``edge:``   recall item — both endpoints found, has_edge on canonical keys
* ``absent:`` precision item — named node must not exist
* count check precision item — per annotated NodeType, actual node count
              (names without newline) equals annotation count

P/R target >= 0.95 per fixture (BASELINE.md).

Source trees.  The annotation checks and the tests marked ``needs_reference``
read the reference's fixture tree (``REFERENCE_TESTING``); where it is absent
the marked tests skip.  Tests whose checks do not depend on what the
fixture files say read their source through ``source_rows`` /
``source_df``: the reference tree when it exists, else the committed
stand-in tree ``tests/standin/`` (same layout, so repo names and paths come
out the same: ``fixtures/python/web``, ``src/testing/python/web/...``).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stakgraph_spark.keys import node_key  # noqa: E402
from stakgraph_spark.langspec import LANGS, annotation_prefix_for  # noqa: E402
from stakgraph_spark.schema import NODE_TYPES, SOURCE_SCHEMA  # noqa: E402
from stakgraph_spark.source import REFERENCE_TESTING, walk_fixture  # noqa: E402

STANDIN_TESTING = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "standin")

needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_TESTING),
    reason=f"reads the reference fixture tree at {REFERENCE_TESTING}")


def source_rows(fixtures: dict[str, str]) -> list[dict]:
    """Source rows of `fixtures` (fixture dir -> language) from the reference
    tree when it exists, else from the stand-in tree."""
    root = (REFERENCE_TESTING if os.path.isdir(REFERENCE_TESTING)
            else STANDIN_TESTING)
    return [r for fdir, lang in fixtures.items()
            for r in walk_fixture(fdir, lang, root=root)]


def source_df(spark, fixtures: dict[str, str]):
    return spark.createDataFrame(source_rows(fixtures), SOURCE_SCHEMA)

EDGE_TYPES = {"Calls", "Uses", "Operand", "ArgOf", "Contains", "Imports", "Of",
              "Handler", "Includes", "Renders", "ParentOf", "Implements",
              "NestedIn"}
_NODE_TYPE_SET = set(NODE_TYPES)


def _tokens(s: str) -> list[str]:
    toks, i, n = [], 0, len(s)
    while i < n:
        while i < n and s[i].isspace():
            i += 1
        if i >= n:
            break
        if s[i] == '"':
            i += 1
            buf = []
            while i < n and s[i] != '"':
                if s[i] == "\\" and i + 1 < n:
                    i += 1
                buf.append(s[i])
                i += 1
            i += 1
            toks.append("".join(buf))
        else:
            j = i
            while j < n and not s[j].isspace():
                j += 1
            toks.append(s[i:j])
            i = j
    return toks


def _meta_filter(s: str) -> dict[str, str]:
    o, c = s.rfind("["), s.rfind("]")
    out = {}
    if o != -1 and c != -1 and o < c:
        for pair in s[o + 1:c].split():
            if "=" in pair:
                k, v = pair.split("=", 1)
                out[k] = v
    return out


@dataclass
class EdgeAnn:
    edge_type: str
    direction: str  # -> | <-
    other_type: str
    other_name: str
    other_file: str
    other_meta: dict[str, str] = field(default_factory=dict)


@dataclass
class NodeAnn:
    node_type: str
    name: str
    meta: dict[str, str] = field(default_factory=dict)
    edges: list[EdgeAnn] = field(default_factory=list)


@dataclass
class AbsentAnn:
    node_type: str
    name: str
    file_suffix: str


def parse_annotations(source: str, prefix: str):
    groups: list[NodeAnn] = []
    absents: list[AbsentAnn] = []
    cur: NodeAnn | None = None
    for line in source.splitlines():
        t = line.strip()
        if not t.startswith(prefix):
            continue
        rest = t[len(prefix):]
        if rest.startswith("node: "):
            toks = _tokens(rest[len("node: "):])
            if len(toks) >= 2 and toks[0] in _NODE_TYPE_SET:
                cur = NodeAnn(toks[0], toks[1], _meta_filter(rest))
                groups.append(cur)
        elif rest.startswith("edge: ") and cur is not None:
            toks = _tokens(rest[len("edge: "):])
            if len(toks) >= 5 and toks[0] in EDGE_TYPES and toks[1] in ("->", "<-") \
                    and toks[2] in _NODE_TYPE_SET:
                cur.edges.append(EdgeAnn(toks[0], toks[1], toks[2], toks[3],
                                         toks[4], _meta_filter(rest)))
        elif rest.startswith("absent: "):
            toks = _tokens(rest[len("absent: "):])
            if len(toks) >= 3 and toks[0] in _NODE_TYPE_SET:
                absents.append(AbsentAnn(toks[0], toks[1], toks[2]))
    return groups, absents


class GraphIndex:
    """In-memory index over collected nodes/edges rows (fixture scale)."""

    def __init__(self, node_rows, edge_rows):
        self.by_type: dict[str, list[dict]] = {}
        for r in node_rows:
            self.by_type.setdefault(r["node_type"], []).append(r)
        for rows in self.by_type.values():
            rows.sort(key=lambda r: r["node_key"])
        self.edges = {(r["src_key"], r["dst_key"], r["edge_type"]) for r in edge_rows}

    def find_all(self, node_type: str, name: str, file_suffix: str,
                 meta: dict[str, str] | None = None) -> list[dict]:
        """All candidates in canonical-key order.  The reference verifier
        takes the FIRST match only; when several same-named nodes share a
        file (e.g. Animal.move / Dog.move) that first-match is an arbitrary
        tie-break that can point at the wrong twin, so edge checks here
        accept ANY candidate pair — the annotation's actual claim."""
        out = []
        for r in self.by_type.get(node_type, []):
            if r["name"] == name and r["file"].endswith(file_suffix):
                if meta:
                    rm = r.get("meta") or {}
                    if not all(rm.get(k) == v for k, v in meta.items()):
                        continue
                out.append(r)
        return out

    def find(self, node_type: str, name: str, file_suffix: str,
             meta: dict[str, str] | None = None):
        c = self.find_all(node_type, name, file_suffix, meta)
        return c[0] if c else None

    def has_edge(self, src: dict, dst: dict, edge_type: str) -> bool:
        return (src["node_key"], dst["node_key"], edge_type) in self.edges

    def count(self, node_type: str) -> int:
        return sum(1 for r in self.by_type.get(node_type, [])
                   if "\n" not in r["name"])


def fixture_files(fixture_dir: str, lang: str):
    spec = LANGS[lang]
    base = os.path.join(REFERENCE_TESTING, fixture_dir)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames[:] = sorted(d for d in dirnames if d not in spec.skip_dirs)
        for fn in sorted(filenames):
            ext = fn.rsplit(".", 1)[-1] if "." in fn else ""
            if ext not in spec.exts:
                continue
            if any(fn.endswith(sfe) for sfe in spec.skip_file_ends):
                continue  # same exclusion the source walker applies
            full = os.path.join(dirpath, fn)
            try:
                src = open(full, encoding="utf-8").read()
            except (OSError, UnicodeDecodeError):
                continue
            if "@ast " not in src:
                continue
            suffix = os.path.relpath(full, REFERENCE_TESTING)
            yield suffix, src, annotation_prefix_for(lang, ext)


def verify_fixture(fixture_dir: str, lang: str, gi: GraphIndex):
    """-> (failures, items, detail list)."""
    failures: list[str] = []
    items = 0
    counts: dict[str, int] = {}
    for suffix, src, prefix in fixture_files(fixture_dir, lang):
        groups, absents = parse_annotations(src, prefix)
        for g in groups:
            counts[g.node_type] = counts.get(g.node_type, 0) + 1
        for a in absents:
            items += 1
            if gi.find(a.node_type, a.name, a.file_suffix):
                failures.append(f"absent-violated: {a.node_type}({a.name}) in {a.file_suffix}")
        for g in groups:
            items += 1
            subjects = gi.find_all(g.node_type, g.name, suffix, g.meta or None)
            if not subjects:
                failures.append(f"node-missing: {g.node_type}({g.name}) in {suffix}")
                items += len(g.edges)
                failures.extend(
                    f"edge-skipped(no subject): {e.edge_type} {g.name} {e.direction} "
                    f"{e.other_name}" for e in g.edges)
                continue
            for e in g.edges:
                items += 1
                others = gi.find_all(e.other_type, e.other_name, e.other_file,
                                     e.other_meta or None)
                if not others:
                    failures.append(
                        f"edge-endpoint-missing: {e.other_type}({e.other_name}) "
                        f"in {e.other_file} (edge {e.edge_type} from {g.name})")
                    continue
                ok = any(
                    gi.has_edge(*((o, s) if e.direction == "<-" else (s, o)),
                                e.edge_type)
                    for s in subjects for o in others)
                if not ok:
                    failures.append(
                        f"edge-missing: {e.edge_type} {g.node_type}({g.name}) "
                        f"{e.direction} {e.other_type}({e.other_name})")
    for node_type, expected in sorted(counts.items()):
        items += 1
        actual = gi.count(node_type)
        if actual != expected:
            failures.append(f"count: {node_type} expected {expected} got {actual}")
    return failures, items


def graph_index_for_repo(nodes_df, edges_df, repo: str) -> GraphIndex:
    nrows = [r.asDict() for r in
             nodes_df.where(nodes_df.repo == repo)
             .select("node_key", "node_type", "name", "file", "meta").collect()]
    erows = [r.asDict() for r in
             edges_df.where(edges_df.repo == repo)
             .select("src_key", "dst_key", "edge_type").collect()]
    return GraphIndex(nrows, erows)
