"""Canonical node keys.

Node identity everywhere is the canonical node key (reference:
ast/src/utils.rs:82-136):

    key = san(type) '-' san(name) '-' san(file) '-' san(start) ['-' san(verb)]
    san  = lowercase, strip whitespace, keep only alphanumerics
           (ast/src/utils.rs:219-225)
    key truncated to <= 5000 chars (name portion to <= 2000 first)

Provided both as a pure-Python function (used inside extraction UDFs and
tests) and as a Spark Column expression (used in the linking plane: Spark
evaluates it JVM-side with the rest of the plan — no Python round trip).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_MAX_KEY = 5000
_MAX_NAME = 2000


def sanitize(s: str) -> str:
    """lowercase + keep only alphanumerics (reference ast/src/utils.rs:219-225).

    Rust's char::is_alphanumeric is Unicode-aware; Python's str.isalnum
    matches closely enough for source-code identifiers.
    """
    return "".join(c for c in s.lower() if c.isalnum())


def node_key(node_type: str, name: str, file: str, start: int | str, verb: str | None = None) -> str:
    sname = sanitize(name)
    key = _assemble(node_type, sname, file, start, verb)
    if len(key) > _MAX_KEY:
        if len(sname) > _MAX_NAME:
            key = _assemble(node_type, sname[:_MAX_NAME], file, start, verb)
        key = key[:_MAX_KEY]
    return key


def _assemble(node_type: str, sname: str, file: str, start: int | str, verb: str | None) -> str:
    parts = [sanitize(node_type), sname, sanitize(file), sanitize(str(start))]
    if verb is not None:
        parts.append(sanitize(verb))
    return "-".join(parts)


# ---------------------------------------------------------------------------
# Spark-side (JVM) variant.
# ---------------------------------------------------------------------------

_NON_ALNUM = r"[^\p{L}\p{N}]"


def sanitize_col(c: Column) -> Column:
    """Spark-native sanitize: lower + strip non-alphanumerics (Unicode classes)."""
    return F.regexp_replace(F.lower(c), _NON_ALNUM, "")


def node_key_col(node_type: Column, name: Column, file: Column, start: Column,
                 verb: Column | None = None) -> Column:
    """Spark-native canonical key.

    concat_ws skips NULLs, so a NULL verb naturally yields the 4-part key —
    matching the reference's optional '-verb' suffix.

    Truncation: name clamped to 2000, key to 5000.  The reference clamps the
    name only when the full key exceeds 5000 (ast/src/utils.rs:106-135); the
    outputs differ only for names > 2000 chars inside keys <= 5000 chars — a
    degenerate case we trade away to halve the expression tree (this key
    expression appears in every edge family; Catalyst plan size matters).
    """
    parts = [
        sanitize_col(node_type),
        F.substring(sanitize_col(name), 1, _MAX_NAME),
        sanitize_col(file),
        sanitize_col(start.cast("string")),
    ]
    if verb is not None:
        parts.append(sanitize_col(verb))
    return F.substring(F.concat_ws("-", *parts), 1, _MAX_KEY)
