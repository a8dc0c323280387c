"""No new orphaned package code.

A top-level function or class in the package that nothing outside the
test suite names is code nobody runs: it costs reading time and drifts
from the paths that are exercised.  This scan parses the package,
`perfbench/`, `tools/` and `__spark_entry__.py` (no Spark session) and
fails on any top-level definition that none of them references.
Registered queries are reached through the registry, so a def decorated
with `@register(...)` counts as referenced.

`KNOWN_ORPHANS` lists today's exceptions.  The test also fails when an
entry no longer exists or is referenced now, so the set can only
shrink: delete the entry together with the code, or when the code gains
a caller.
"""

from __future__ import annotations

import ast
import os

from .conftest import REPO_ROOT

PKG = "_big_data_analytics_and_visualization_tracking_student_progress__spark"

# "module.name", the module dotted and relative to the package
KNOWN_ORPHANS = {
    # reference twins and codecs the tests compare the engine against
    "functions.scalar.synthetic_event_time",
    "operators.ann_index.pq_probe_refine",
    "operators.dedup.minhash_signature",
    "operators.multimodal.decode_png",
    "operators.multimodal.decode_stub",
    "operators.multimodal.encode_bmp",
    "operators.multimodal.encode_png",
    "operators.multimodal.real_decode",
    "operators.sampling.deterministic_shuffle",
    "operators.sketches.cms_merge",
    "operators.textindex.rrf_fuse_grouped",
    # tested API with no caller in the package (ROADMAP item 5)
    "operators.multimodal.frame_sample_stub",
    "operators.multimodal.resize_stub",
    "sources.readers.read_json_quarantined",
    "streaming.pipeline.read_quarantine",
}


def _py_files(root: str):
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _referenced_names(tree: ast.AST) -> set[str]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    return out


def _is_registered(node: ast.AST) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "register":
            return True
    return False


def _scan() -> tuple[dict[str, set[str]], set[str]]:
    """(module -> unregistered top-level defs, every name referenced)."""
    pkg_root = os.path.join(REPO_ROOT, PKG)
    sources = [
        *_py_files(pkg_root),
        *_py_files(os.path.join(REPO_ROOT, "perfbench")),
        *_py_files(os.path.join(REPO_ROOT, "tools")),
        os.path.join(REPO_ROOT, "__spark_entry__.py"),
    ]
    defs: dict[str, set[str]] = {}
    refs: set[str] = set()
    for path in sources:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        refs |= _referenced_names(tree)
        if not path.startswith(pkg_root + os.sep):
            continue
        module = os.path.relpath(path, pkg_root)[: -len(".py")]
        defs[module.replace(os.sep, ".")] = {
            node.name
            for node in tree.body
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            and not _is_registered(node)
        }
    return defs, refs


def test_no_unreferenced_top_level_definitions():
    defs, refs = _scan()
    orphans = {
        f"{m}.{n}" for m, names in defs.items() for n in names if n not in refs
    }
    new = sorted(orphans - KNOWN_ORPHANS)
    assert not new, (
        "top-level definitions nothing in the package, perfbench/, tools/ "
        f"or __spark_entry__.py references: {new}"
    )
    stale = sorted(KNOWN_ORPHANS - orphans)
    assert not stale, (
        "KNOWN_ORPHANS entries that no longer exist or are referenced "
        f"now; remove them from the set: {stale}"
    )
