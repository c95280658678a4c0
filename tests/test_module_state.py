"""Module-level shape of the package, checked on its source.

Operators own their working sets: a module global rebound by a call
(``global`` statement) outlives the call that set it, so a later call,
from any engine or driver query, can release what an earlier call's
pending result still reads.

Every public definition has a caller: a function or class that only
tests reach is code the engine, the driver queries, the benchmark and
the tools never run.
"""

import ast
import pathlib

import reffy_spark

ROOT = pathlib.Path(reffy_spark.__file__).parent.parent
PKG = ROOT / "reffy_spark"

# Public top-level definitions that only tests call, each kept for a
# named reason: ports of Reffy functions that the reference goldens pin
# (with the Reffy source they port), and the DOM parser's oracle.
ALLOWED = {
    "backrefs_crawl": "src/postprocessing/backrefs.js run(), pinned by test/generate-backrefs.js goldens",
    "clean_method_name_col": "Column form of extract-dfns.mjs cleanMethodName, pinned to the same first-match cases",
    "clean_method_name_py": "extract-dfns.mjs:441-442 cleanMethodName, pinned by its first-match cases",
    "css_property_to_idl_attributes": "src/lib/util.js:923-960 CSSOM attribute names, twin of the _col form",
    "cssmerge_crawl": "src/postprocessing/cssmerge.js run(), pinned by test/merge-css.js goldens",
    "event_handlers_of": "extract-events.mjs:25-34,373-406 EventHandler attributes",
    "generate_spec_report": "src/lib/markdown-report.js, pinned by test/markdown-report.js goldens",
    "idlparsed_run": "src/postprocessing/idlparsed.js run(), pinned by test/generate-idlparsed.js goldens",
    "is_latest_level_that_passes": "src/lib/util.js:731-774, pinned by test/util.js cases",
    "merge_descriptors": "src/postprocessing/cssmerge.js:247-257,293-296 descriptor merge",
    "parse_html_stdlib": "differential oracle for the fast DOM tokenizer (tests/test_dom.py)",
    "parse_propdef_value": "src/lib/css-grammar-parser.js, pinned by test/css-grammar-parser in/out corpus",
    "read_seed_list": "browser-specs seed list load, reffy.js:58-68 and specs-crawler.js:352-389",
    "resolve_spec_refs": "parseSpecOption shortname/series/URL resolution, reffy.js:58-68",
    "validate_post": "schemas/postprocessing/*.json checks (Ajv in src/lib/util.js:1065-1140)",
}


def test_no_global_statements():
    root = pathlib.Path(reffy_spark.__file__).parent
    found = [
        f"{path.relative_to(root.parent)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Global)
    ]
    assert found == []


def _caller_files():
    """Code that runs outside the test suites: the package itself, the
    tools, the benchmark harness and the driver entry points."""
    yield from sorted(PKG.rglob("*.py"))
    yield from sorted((ROOT / "tools").rglob("*.py"))
    yield from (
        p
        for p in sorted((ROOT / "perfbench").rglob("*.py"))
        if not p.name.startswith("test_")
    )
    for name in ("bench.py", "bench_extra.py", "__spark_entry__.py"):
        yield ROOT / name


def _names_used(tree):
    """Names each top-level statement reads, by statement index. A name
    bound by ``from m import x as y`` counts as a use of ``x`` wherever
    ``y`` is used; an import alone (a re-export) is not a use."""
    renamed = {
        a.asname: a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.asname
    }
    out = {}
    for i, stmt in enumerate(tree.body):
        used = set()
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
        out[i] = used | {renamed[u] for u in used if u in renamed}
    return out


def test_every_public_def_has_a_caller():
    used = {}  # (path, top-level statement index) -> names it reads
    for path in _caller_files():
        tree = ast.parse(path.read_text(), str(path))
        for i, names in _names_used(tree).items():
            used[(path, i)] = names
    uncalled = {}
    for path in sorted(PKG.rglob("*.py")):
        if "testing" in path.relative_to(PKG).parts:
            continue
        for i, stmt in enumerate(ast.parse(path.read_text(), str(path)).body):
            if not isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or stmt.name.startswith("_"):
                continue
            # a reference from the definition's own body is not a caller
            if not any(
                stmt.name in names
                for key, names in used.items()
                if key != (path, i)
            ):
                uncalled[stmt.name] = f"{path.relative_to(ROOT)}:{stmt.lineno}"
    unexplained = {n: at for n, at in uncalled.items() if n not in ALLOWED}
    assert unexplained == {}
    # an allowlisted name that gained a caller, or is gone, leaves the list
    assert sorted(set(ALLOWED) - set(uncalled)) == []
