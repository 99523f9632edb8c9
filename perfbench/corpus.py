"""Seeded source-corpus generator with planted ground-truth edges.

`make_corpus(seed, shape)` returns the rows of a `(repo, path, commit, lang,
content)` source table plus the list of edges the generator planted in it.
The same seed and shape always give the same corpus.

What a corpus holds:

* every one of the 15 extractor languages, each in its own top-level
  directory of a repo, with that language's package manifest;
* cross-file calls to functions whose names are unique in their (repo, lang)
  slice (the cascade's `global_unique` path), at a per-repo call density;
* calls to a `shared` helper defined once in EVERY directory of a slice, so
  the name is ambiguous across the slice and only the caller's directory
  disambiguates it (the cascade's `same_dir` path);
* backend endpoints with handler functions (python, go, typescript, java,
  rust), frontend requests to those endpoints (react), and classes that
  implement an interface defined in another file (java, typescript, rust,
  csharp);
* one file over the 500 KB parse limit and one file with a syntax error per
  corpus, and one root-level file per repo, so the pipeline's drop paths
  run.

A planted edge is `(kind, repo, edge_type, src_type, src_name, src_file,
dst_type, dst_name, dst_file)`; `kind` names the mechanism that must find it.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

LANGS = ["python", "go", "rust", "typescript", "react", "java", "ruby",
         "kotlin", "swift", "php", "csharp", "c", "cpp", "angular", "svelte"]
BACKENDS = ["python", "go", "typescript", "java", "rust"]
IMPLEMENTS = ["java", "typescript", "rust", "csharp"]
DENSITIES = [0.5, 1.5, 3.0]   # cross-file calls per function, by repo
# languages whose calls name the callee's file class (`Cls.fn(x)`)
CLASS_LANGS = {"java", "csharp", "ruby"}

EXT = {"python": "py", "go": "go", "rust": "rs", "typescript": "ts",
       "react": "tsx", "java": "java", "ruby": "rb", "kotlin": "kt",
       "swift": "swift", "php": "php", "csharp": "cs", "c": "c",
       "cpp": "cpp", "angular": "ts", "svelte": "js"}

MANIFEST = {
    "python": ("requirements.txt", "flask==3.0.0\nrequests>=2.31\n"),
    "go": ("go.mod", "module example.com/{name}\n\ngo 1.21\n\nrequire (\n"
                     "\tgithub.com/gin-gonic/gin v1.9.1\n)\n"),
    "rust": ("Cargo.toml", '[package]\nname = "{name}"\nversion = "0.1.0"\n\n'
                           '[dependencies]\naxum = "0.7"\nserde = {{ version = '
                           '"1.0" }}\n'),
    "typescript": ("package.json", '{{"name": "{name}", "dependencies": '
                                   '{{"express": "^4.18.2"}}}}\n'),
    "react": ("package.json", '{{"name": "{name}-web", "dependencies": '
                              '{{"react": "^18.2.0", "next": "^14.0.0"}}}}\n'),
    "java": ("pom.xml", "<project><artifactId>{name}</artifactId>"
                        "</project>\n"),
    "ruby": ("Gemfile", "source 'https://rubygems.org'\ngem 'rails', "
                        "'~> 7.1'\n"),
    "kotlin": ("build.gradle.kts", 'plugins {{ kotlin("jvm") }}\n'),
    "swift": ("Package.swift", "// swift-tools-version:5.9\n"),
    "php": ("composer.json", '{{"require": {{"laravel/framework": '
                             '"^10.0"}}}}\n'),
    "csharp": ("{name}.csproj", "<Project Sdk=\"Microsoft.NET.Sdk\">"
                                "</Project>\n"),
    "c": ("CMakeLists.txt", "project({name} C)\n"),
    "cpp": ("CMakeLists.txt", "project({name} CXX)\n"),
    "angular": ("package.json", '{{"name": "{name}-ng", "dependencies": '
                                '{{"@angular/core": "^17.0.0"}}}}\n'),
    "svelte": ("package.json", '{{"name": "{name}-sv", "dependencies": '
                               '{{"svelte": "^4.0.0"}}}}\n'),
}


@dataclass(frozen=True)
class Shape:
    """How big a corpus is and which languages it uses."""
    repos: int
    files_per_slice: int
    langs: tuple[str, ...] = tuple(LANGS)
    langs_per_repo: int = 1


@dataclass
class Corpus:
    rows: list[dict] = field(default_factory=list)
    planted: list[tuple] = field(default_factory=list)


def _cap(s: str) -> str:
    return s[:1].upper() + s[1:]


class _Slice:
    """One (repo, lang) slice under construction."""

    def __init__(self, repo: str, lang: str, root: str):
        self.repo, self.lang, self.root = repo, lang, root
        # path -> (file class, rendered functions) or (None, whole file)
        self.files: dict[str, tuple] = {}
        self.fns: list[tuple[str, str, str]] = []  # (name, path, file class)

    def fn_name(self, d: int, i: int, k: int) -> str:
        if self.lang in ("go", "csharp"):
            return f"Op{d}x{i}x{k}"
        if self.lang in ("python", "rust", "ruby", "php", "c", "cpp"):
            return f"op_{d}_{i}_{k}"
        return f"op{d}x{i}x{k}"

    def shared_name(self) -> str:
        return {"go": "SharedHelper", "csharp": "SharedHelper",
                "python": "shared_helper", "rust": "shared_helper",
                "ruby": "shared_helper", "php": "shared_helper",
                "c": "shared_helper", "cpp": "shared_helper"}.get(
            self.lang, "sharedHelper")


# ---------------------------------------------------------------- templates

def _call(lang: str, cls: str | None, name: str) -> str:
    if lang in CLASS_LANGS:
        return f"{cls}.{name}(x)"
    if lang == "swift":
        return f"{name}(x: x)"
    if lang == "php":
        return f"{name}($x)"
    return f"{name}(x)"


_C = {"python": "#", "ruby": "#"}   # line-comment marker; `//` otherwise
# per language: function head, body indent, call line, two statements of
# local arithmetic ({k}), tail
_FN = {
    "python": ("def {name}(x):", "    ", "{c}",
               ["y = x * {k} + 1", "x = y - {k}"], "    return x"),
    "go": ("func {name}(x int) int {{", "\t", "{c}",
           ["y := x*{k} + 1", "x = y - {k}"], "\treturn x\n}}"),
    "rust": ("pub fn {name}(x: u32) -> u32 {{", "    ", "{c};",
             ["let y = x * {k} + 1;", "let x = y - {k};"], "    x\n}}"),
    "ts": ("export function {name}(x: number) {{", "  ", "{c};",
           ["const y = x * {k} + 1;", "x = y - {k};"], "  return x;\n}}"),
    "svelte": ("export function {name}(x) {{", "  ", "{c};",
               ["const y = x * {k} + 1;", "x = y - {k};"],
               "  return x;\n}}"),
    "java": ("    public static int {name}(int x) {{", "        ", "{c};",
             ["int y = x * {k} + 1;", "x = y - {k};"],
             "        return x;\n    }}"),
    "csharp": ("        public static int {name}(int x)\n        {{",
               "            ", "{c};",
               ["int y = x * {k} + 1;", "x = y - {k};"],
               "            return x;\n        }}"),
    "ruby": ("  def self.{name}(x)", "    ", "{c}",
             ["y = x * {k} + 1", "x = y - {k}"], "    x\n  end"),
    "kotlin": ("fun {name}(x: Int): Int {{", "    ", "{c}",
               ["val y = x * {k} + 1", "val z = y - {k}"],
               "    return x\n}}"),
    "swift": ("func {name}(x: Int) -> Int {{", "    ", "_ = {c}",
              ["let y = x * {k} + 1", "let z = y - {k}"],
              "    return x\n}}"),
    "php": ("function {name}($x) {{", "    ", "{c};",
            ["$y = $x * {k} + 1;", "$x = $y - {k};"], "    return $x;\n}}"),
    "c": ("int {name}(int x) {{", "    ", "{c};",
          ["int y = x * {k} + 1;", "x = y - {k};"], "    return x;\n}}"),
}
_FN.update(typescript=_FN["ts"], react=_FN["ts"], angular=_FN["ts"],
           cpp=_FN["c"])


def _fn(lang: str, name: str, calls: list[str]) -> str:
    """One documented function that makes the (already rendered) `calls`
    and does a little local arithmetic."""
    head, ind, call, work, tail = _FN[lang]
    k = len(name)
    pad = head[:len(head) - len(head.lstrip())]
    doc = f"{pad}{_C.get(lang, '//')} {name} scales its input by {k}."
    lines = [ind + call.format(c=c) for c in calls]
    lines += [ind + w.format(k=k) for w in work]
    return "\n".join([doc, head.format(name=name), *lines,
                      tail.format()]) + "\n"


def _file(lang: str, path: str, cls: str, parts: list[str]) -> str:
    """Wrap rendered functions into a whole source file."""
    d = path.rsplit("/", 2)[-2] if "/" in path else "root"
    fns = "\n".join(parts)
    if lang == "python":
        return f'"""Module {cls}."""\nimport os\n\n\n{fns}'
    if lang == "go":
        return f"package {d}\n\n{fns}"
    if lang == "rust":
        return f"use std::fmt;\n\n{fns}"
    if lang in ("typescript", "react", "angular", "svelte"):
        return f"{fns}"
    if lang == "java":
        return (f"package com.gen.{d};\n\nimport java.util.List;\n\n"
                f"public class {cls} {{\n{fns}}}\n")
    if lang == "csharp":
        return (f"using System;\n\nnamespace Gen.{_cap(d)}\n{{\n"
                f"    public class {cls}\n    {{\n{fns}    }}\n}}\n")
    if lang == "ruby":
        return f"class {cls}\n{fns}end\n"
    if lang == "kotlin":
        return f"package com.gen.{d}\n\n{fns}"
    if lang == "swift":
        return f"import Foundation\n\n{fns}"
    if lang == "php":
        return f"<?php\n\nnamespace Gen\\{_cap(d)};\n\n{fns}"
    if lang in ("c", "cpp"):
        return f'#include "{cls}.h"\n\n{fns}'
    raise ValueError(lang)


# ------------------------------------------------------- corpus assembly

def _file_class(path: str) -> str:
    """`<root>/m<d>/f<i>.<ext>` holds class `F<d>x<i>` in class languages."""
    d, f = path.rsplit("/", 2)[-2:]
    return f"F{d[1:]}x{f[1:].split('.')[0]}"


def _build_slice(rng: random.Random, repo: str, lang: str, root: str,
                 n_files: int, density: float, planted: list) -> _Slice:
    s = _Slice(repo, lang, root)
    ext = EXT[lang]
    n_dirs = max(2, n_files // 8)
    paths = []
    for i in range(n_files):
        d = i % n_dirs
        path = f"{root}/m{d}/f{i}.{ext}"
        paths.append((d, i, path, _file_class(path)))
    # functions first, so calls may target any file of the slice
    plan = []
    for d, i, path, cls in paths:
        names = [s.fn_name(d, i, k) for k in range(2 + i % 4)]
        plan.append((d, i, path, cls, names))
        for nm in names:
            s.fns.append((nm, path, cls))
    shared = s.shared_name()
    n_fn = 0
    for d, i, path, cls, names in plan:
        parts = []
        for nm in names:
            calls = []
            # the number of calls is fixed by position (`density` on
            # average); the seed picks only their targets, so every seed
            # gives a graph of one size
            n_calls = int((n_fn + 1) * density) - int(n_fn * density)
            n_fn += 1
            for _ in range(n_calls):
                t_name, t_path, t_cls = rng.choice(s.fns)
                while t_path == path:
                    t_name, t_path, t_cls = rng.choice(s.fns)
                calls.append(_call(lang, t_cls, t_name))
                planted.append(("calls_unique", repo, "Calls", "Function", nm,
                                path, "Function", t_name, t_path))
            if n_fn % 3 == 0:
                calls.append(_call(lang, "Common", shared))
                planted.append(("calls_same_dir", repo, "Calls", "Function",
                                nm, path, "Function", shared,
                                f"{root}/m{d}/common.{ext}"))
            parts.append(_fn(lang, nm, calls))
        s.files[path] = (cls, parts)
    for d in range(n_dirs):
        s.files[f"{root}/m{d}/common.{ext}"] = ("Common",
                                                [_fn(lang, shared, [])])
    return s


def _add_endpoints(s: _Slice, tag: str,
                   planted: list) -> list[tuple[str, str]]:
    """Backend routes + handlers; -> [(path, endpoint file)]."""
    lang, root, repo = s.lang, s.root, s.repo
    n = 2 + len(s.files) // 10
    eps = []
    target = s.fns[0]
    if lang == "python":
        f = f"{root}/api/routes.py"
        parts = ["from flask import Flask\n\napp = Flask(__name__)\n"]
        for k in range(n):
            p = f"/api/{tag}/py{k}"
            parts.append(f'@app.route("{p}", methods=["GET"])\n'
                         f"def handle_py{k}():\n"
                         f"    return {target[0]}(1)\n")
            planted.append(("handler", repo, "Handler", "Endpoint", p, f,
                            "Function", f"handle_py{k}", f))
            eps.append((p, f))
        s.files[f] = (None, "\n".join(parts))
    elif lang == "go":
        f, hf = f"{root}/api/routes.go", f"{root}/api/handlers.go"
        regs = "".join(f'\tr.GET("/api/{tag}/go{k}", HandleGo{k})\n'
                       for k in range(n))
        s.files[f] = (None, 'package api\n\nimport "github.com/gin-gonic/'
                      f'gin"\n\nfunc Routes(r *gin.Engine) {{\n{regs}}}\n')
        hs = "".join(f"func HandleGo{k}(c *gin.Context) {{\n"
                     f"\t{target[0]}(1)\n}}\n\n" for k in range(n))
        s.files[hf] = (None, f"package api\n\n{hs}")
        for k in range(n):
            p = f"/api/{tag}/go{k}"
            planted.append(("handler", repo, "Handler", "Endpoint", p, f,
                            "Function", f"HandleGo{k}", hf))
            eps.append((p, f))
    elif lang == "typescript":
        f = f"{root}/api/server.ts"
        parts = ['import express from "express";\nconst app = express();\n']
        for k in range(n):
            parts.append(f"function handleTs{k}(req, res) {{\n"
                         f"  res.json({target[0]}(1));\n}}\n")
        for k in range(n):
            p = f"/api/{tag}/ts{k}"
            parts.append(f'app.get("{p}", handleTs{k});\n')
            planted.append(("handler", repo, "Handler", "Endpoint", p, f,
                            "Function", f"handleTs{k}", f))
            eps.append((p, f))
        s.files[f] = (None, "\n".join(parts))
    elif lang == "java":
        f = f"{root}/api/ItemController.java"
        ms = "".join(f'    @GetMapping("/api/{tag}/java{k}")\n'
                     f"    public String handleJava{k}() {{\n"
                     f"        return {target[2]}.{target[0]}(1);\n    }}\n\n"
                     for k in range(n))
        s.files[f] = (None,
                      "package com.gen.api;\n\n@RestController\npublic class "
                      f"ItemController {{\n{ms}}}\n")
        for k in range(n):
            p = f"/api/{tag}/java{k}"
            planted.append(("handler", repo, "Handler", "Endpoint", p, f,
                            "Function", f"handleJava{k}", f))
            eps.append((p, f))
    elif lang == "rust":
        f, hf = f"{root}/src/routes.rs", f"{root}/src/handlers.rs"
        chain = "".join(f'\n        .route("/api/{tag}/rs{k}", '
                        f"get(handle_rs{k}))" for k in range(n))
        s.files[f] = (None, "use axum::{routing::get, Router};\n\n"
                      f"pub fn router() -> Router {{\n    Router::new()"
                      f"{chain}\n}}\n")
        hs = "".join(f"pub async fn handle_rs{k}() -> String {{\n"
                     f"    {target[0]}(1).to_string()\n}}\n\n"
                     for k in range(n))
        s.files[hf] = (None, hs)
        for k in range(n):
            p = f"/api/{tag}/rs{k}"
            planted.append(("handler", repo, "Handler", "Endpoint", p, f,
                            "Function", f"handle_rs{k}", hf))
            eps.append((p, f))
    return eps


def _add_requests(s: _Slice, eps: list[tuple[str, str]], planted: list):
    """React pages fetching every endpoint of the repo's backend."""
    for j in range(0, len(eps), 3):
        f = f"{s.root}/pages/Page{j}.tsx"
        body = []
        for p, ep_file in eps[j:j + 3]:
            body.append(f'  fetch("{p}");\n')
            planted.append(("request", s.repo, "Calls", "Request", p, f,
                            "Endpoint", p, ep_file))
        s.files[f] = (None, 'import React from "react";\n\n'
                      f"export function Page{j}() {{\n{''.join(body)}"
                      f"  return <div>page {j}</div>;\n}}\n")


def _add_implements(s: _Slice, planted: list):
    """Interfaces in one file; classes implementing them in another."""
    lang, root, repo = s.lang, s.root, s.repo
    k_n = 3
    if lang == "java":
        tf = f"{root}/contracts/Shapes.java"
        s.files[tf] = (None, "package com.gen.contracts;\n\n" + "".join(
            f"interface Shape{k} {{\n    int area{k}(int x);\n}}\n\n"
            for k in range(k_n)))
        cf = f"{root}/shapes/Impls.java"
        s.files[cf] = (None, "package com.gen.shapes;\n\n" + "".join(
            f"class Impl{k} implements Shape{k} {{\n    public int area{k}("
            f"int x) {{\n        return x;\n    }}\n}}\n\n"
            for k in range(k_n)))
    elif lang == "typescript":
        tf = f"{root}/contracts/shapes.ts"
        s.files[tf] = (None, "".join(
            f"export interface Shape{k} {{\n  area{k}(): number;\n}}\n\n"
            for k in range(k_n)))
        cf = f"{root}/shapes/impls.ts"
        s.files[cf] = (None, "".join(
            f"export class Impl{k} implements Shape{k} {{\n  area{k}(): "
            f"number {{\n    return {k};\n  }}\n}}\n\n" for k in range(k_n)))
    elif lang == "rust":
        tf = f"{root}/src/contracts.rs"
        s.files[tf] = (None, "".join(
            f"pub trait Shape{k} {{\n    fn area{k}(&self) -> u32;\n}}\n\n"
            for k in range(k_n)))
        cf = f"{root}/src/impls.rs"
        s.files[cf] = (None, "".join(
            f"pub struct Impl{k} {{\n    n: u32,\n}}\n\n"
            f"impl Shape{k} for Impl{k} {{\n    fn area{k}(&self) -> u32 "
            f"{{\n        self.n\n    }}\n}}\n\n" for k in range(k_n)))
    elif lang == "csharp":
        tf = f"{root}/Contracts/Shapes.cs"
        s.files[tf] = (None, "namespace Gen.Contracts\n{\n" + "".join(
            f"    public interface IShape{k}\n    {{\n        int Area{k}("
            f"int x);\n    }}\n\n" for k in range(k_n)) + "}\n")
        cf = f"{root}/Shapes/Impls.cs"
        s.files[cf] = (None, "namespace Gen.Shapes\n{\n" + "".join(
            f"    public class Impl{k} : IShape{k}\n    {{\n        public "
            f"int Area{k}(int x)\n        {{\n            return x;\n"
            f"        }}\n    }}\n\n" for k in range(k_n)) + "}\n")
    else:
        return
    tname = "IShape" if lang == "csharp" else "Shape"
    for k in range(k_n):
        planted.append(("implements", repo, "Implements", "Class", f"Impl{k}",
                        cf, "Trait", f"{tname}{k}", tf))


def _render(s: _Slice) -> list[tuple[str, str]]:
    return [(path, text if cls is None else _file(s.lang, path, cls, text))
            for path, (cls, text) in s.files.items()]


def make_corpus(seed: int, shape: Shape) -> Corpus:
    rng = random.Random(seed)
    corpus = Corpus()
    commit = f"c{seed:08x}"
    langs = list(shape.langs)
    for r in range(shape.repos):
        repo = f"gen/r{r:03d}"
        density = DENSITIES[r % len(DENSITIES)]
        picked = [langs[(r * shape.langs_per_repo + j) % len(langs)]
                  for j in range(shape.langs_per_repo)]
        backend = next((x for x in picked if x in BACKENDS), None)
        frontend_only = bool(backend) and "react" not in picked
        if frontend_only:
            picked.append("react")
        slices = {}
        for lang in picked:
            # slice sizes vary across slices but not with the seed
            n = max(3, shape.files_per_slice * (7 + (r + len(slices)) % 7)
                    // 10)
            if lang == "react" and frontend_only:
                n = max(3, n // 4)   # a backend's frontend: pages + a few
            # node keys are (type, name, file, start): a path that repeats
            # across repos would merge their nodes, so roots name the repo
            s = _build_slice(rng, repo, lang, f"{lang}-r{r}", n, density,
                             corpus.planted)
            if lang in IMPLEMENTS:
                _add_implements(s, corpus.planted)
            slices[lang] = s
        if backend:
            eps = _add_endpoints(slices[backend], f"r{r}", corpus.planted)
            _add_requests(slices["react"], eps, corpus.planted)
        for lang, s in slices.items():
            name, text = MANIFEST[lang]
            if "{name}" in name:
                name = name.format(name=f"r{r}")
            s.files[f"{s.root}/{name}"] = (None, text.format(name=f"r{r}"))
            for path, content in _render(s):
                corpus.rows.append({"repo": repo, "path": path,
                                    "commit": commit, "lang": lang,
                                    "content": content})
        # root-level file: the file plane must give it no Directory parent
        first = picked[0]
        path = f"main_r{r}.{EXT[first]}"
        entry = "RootEntry" if first in ("go", "csharp") else "rootEntry"
        corpus.rows.append({
            "repo": repo, "path": path, "commit": commit, "lang": first,
            "content": _file(first, path, "Main", [_fn(first, entry, [])])})
    _add_drop_paths(corpus, commit)
    return corpus


def _add_drop_paths(corpus: Corpus, commit: str):
    repo, lang = corpus.rows[0]["repo"], corpus.rows[0]["lang"]
    root, ext = corpus.rows[0]["path"].split("/", 1)[0], EXT[lang]
    filler = "// filler line to exceed the parse size limit\n"
    if lang in ("python", "ruby"):
        filler = "# filler line to exceed the parse size limit\n"
    corpus.rows.append({"repo": repo, "path": f"{root}/big/blob.{ext}",
                        "commit": commit, "lang": lang,
                        "content": filler * (520_000 // len(filler) + 1)})
    corpus.rows.append({"repo": repo, "path": f"{root}/broken/bad.{ext}",
                        "commit": commit, "lang": lang,
                        "content": "def broken(:\n  return (\n}}} {{{ )\n"
                                   "func ( { class\n"})


def edited(corpus: Corpus) -> Corpus:
    """The corpus with one file of its first (repo, lang) slice edited: a
    function that calls a function of another file is appended, and that
    call is planted.  Only that slice's content changes."""
    rows = [dict(r) for r in corpus.rows]
    planted = list(corpus.planted)
    first = next(p for p in planted if p[0] == "calls_unique")
    repo, src_file, dst_name, dst_file = first[1], first[5], first[7], first[8]
    row = next(r for r in rows if r["repo"] == repo and r["path"] == src_file)
    lang = row["lang"]
    dst_cls = _file_class(dst_file)
    name = "editedEntry" if lang not in ("go", "csharp") else "EditedEntry"
    extra = _fn(lang, name, [_call(lang, dst_cls, dst_name)])
    content = row["content"]
    if lang in ("java", "csharp", "ruby"):
        # class-wrapped languages: the new method goes inside the class
        tail = {"java": "}\n", "csharp": "    }\n}\n", "ruby": "end\n"}[lang]
        content = content[: -len(tail)] + "\n" + extra + tail
    else:
        content = content + "\n" + extra
    row["content"] = content
    planted.append(("calls_unique", repo, "Calls", "Function", name,
                    src_file, "Function", dst_name, dst_file))
    return Corpus(rows=rows, planted=planted)
