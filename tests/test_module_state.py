"""Module-level shape of the package, checked on its source.

Operators own their working sets: a module global rebound by a call
(``global`` statement) outlives the call that set it, so a later call,
from any engine or driver query, can release what an earlier call's
pending result still reads.

Every public definition has a caller: a function or class that only
tests reach is code the engine, the driver queries, the benchmark and
the tools never run. The same holds for options: every defaulted
parameter of a public definition is passed by some caller outside the
tests, and no such caller passes a keyword or an argument count that
its callee no longer takes (the tests never run the tools or the
legacy bench scripts, so nothing else would notice).

Public names are unique across the package: callers are matched by
name only, so a dead definition could hide behind a live one that
shares its name.

The idlparsed report's JSON shape is declared once: only
``plans/views.py`` parses the ``idlparsed`` column, and every IDL
post-processor reads its views.
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

# Defaulted parameters of public definitions that only tests pass, each
# kept for a named reason: Reffy's own flags, and switches that select
# the reference implementation a test compares the default path with.
PARAM_ALLOWED = {
    "extract_page.spec": "Reffy passes the spec into browserlib modules (specs-crawler.js:109-121); the elements goldens pin it",
    "select_crawl_url.release": "Reffy's --release crawl mode (specs-crawler.js:441-443,474-478), pinned by the multipage source tests",
    "create_outline.dense": "the literal every-element walk of create-outline.mjs:322-328 that the sparse default is property-tested against",
    "duplicate_spans.hash_mode": "the xxhash64 twin that tests compare with the default md5 hash the DuckDB oracle replays",
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


def test_public_names_are_unique():
    where = {}
    for path in sorted(PKG.rglob("*.py")):
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not stmt.name.startswith("_"):
                where.setdefault(stmt.name, []).append(
                    f"{path.relative_to(ROOT)}:{stmt.lineno}"
                )
    assert {n: at for n, at in where.items() if len(at) > 1} == {}


def _public_functions():
    """(qualified name, callee name, node, is_method, where) of every
    public function and every public method of a public class outside
    ``reffy_spark/testing/``; a call site names ``__init__`` by its
    class."""
    for path in sorted(PKG.rglob("*.py")):
        if "testing" in path.relative_to(PKG).parts:
            continue
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if getattr(stmt, "name", "_").startswith("_"):
                continue
            at = f"{path.relative_to(ROOT)}:{stmt.lineno}"
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield stmt.name, stmt.name, stmt, False, at
            elif isinstance(stmt, ast.ClassDef):
                for m in stmt.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                        m.name == "__init__" or not m.name.startswith("_")
                    ):
                        callee = stmt.name if m.name == "__init__" else m.name
                        yield f"{stmt.name}.{m.name}", callee, m, True, at


def _defaulted(fn, is_method):
    """(name, position) of each defaulted parameter; position is None
    for keyword-only ones. A method's ``self``/``cls`` is not counted."""
    a = fn.args
    pos = a.posonlyargs + a.args
    if is_method and pos and pos[0].arg in ("self", "cls"):
        pos = pos[1:]
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def test_every_default_parameter_has_a_caller():
    # callees are matched by name only, so a parameter counts as set if
    # any same-named call outside the tests passes it
    calls = {}  # callee name -> [(positional count, keywords, spreads)]
    for path in _caller_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name is None:
                continue
            spreads = any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords
            )
            kws = {k.arg for k in node.keywords if k.arg}
            calls.setdefault(name, []).append((len(node.args), kws, spreads))
    unset = {}
    for qual, callee, fn, is_method, at in _public_functions():
        if qual.split(".")[0] in ALLOWED:
            continue
        for name, pos in _defaulted(fn, is_method):
            if not any(
                spreads or name in kws or (pos is not None and npos > pos)
                for npos, kws, spreads in calls.get(callee, ())
            ):
                unset[f"{qual}.{name}"] = at
    unexplained = {p: at for p, at in unset.items() if p not in PARAM_ALLOWED}
    assert unexplained == {}
    # an allowlisted parameter that gained a caller, or is gone, leaves the list
    assert sorted(set(PARAM_ALLOWED) - set(unset)) == []


def _module_path(dotted):
    """Source file of a ``reffy_spark`` module, or None."""
    base = ROOT.joinpath(*dotted.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.exists():
            return p
    return None


def _resolve(path, name, seen=()):
    """The def or class ``name`` binds at the top level of ``path``,
    following ``from reffy_spark... import`` re-exports."""
    if (path, name) in seen:
        return None
    for stmt in ast.parse(path.read_text(), str(path)).body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if stmt.name == name:
                return stmt
        elif isinstance(stmt, ast.ImportFrom) and (stmt.module or "").startswith(
            "reffy_spark"
        ):
            for a in stmt.names:
                if (a.asname or a.name) == name:
                    src = _module_path(stmt.module)
                    return src and _resolve(src, a.name, seen + ((path, name),))
    return None


def _bad_call(target, call):
    """Why ``call`` cannot bind to ``target`` (a def, or a class through
    its ``__init__``), or None when it can."""
    fn = target
    if isinstance(target, ast.ClassDef):
        inits = [
            m for m in target.body
            if isinstance(m, ast.FunctionDef) and m.name == "__init__"
        ]
        fn = inits[0] if inits else None
        if fn is None:
            return None
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    if isinstance(target, ast.ClassDef):
        pos = pos[1:]
    named = set(pos[len(a.posonlyargs):]) | {p.arg for p in a.kwonlyargs}
    if any(isinstance(x, ast.Starred) for x in call.args):
        return None
    if a.vararg is None and len(call.args) > len(pos):
        return f"{len(call.args)} positional arguments, takes {len(pos)}"
    if a.kwarg is None:
        extra = sorted(k.arg for k in call.keywords if k.arg and k.arg not in named)
        if extra:
            return f"unknown keywords {extra}"
    return None


def test_no_caller_passes_a_parameter_its_callee_lacks():
    stale = {}
    for path in _caller_files():
        tree = ast.parse(path.read_text(), str(path))
        funcs, mods = {}, {}  # local name -> (module file, name) / module file
        if path.is_relative_to(PKG):
            here = ".".join(path.relative_to(ROOT).with_suffix("").parts)
            for stmt in tree.body:
                if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                    funcs[stmt.name] = (_module_path(here), stmt.name)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "reffy_spark"
            ):
                for a in node.names:
                    sub = _module_path(f"{node.module}.{a.name}")
                    if sub is not None:
                        mods[a.asname or a.name] = sub
                    else:
                        funcs[a.asname or a.name] = (_module_path(node.module), a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith("reffy_spark") and a.asname:
                        mods[a.asname] = _module_path(a.name)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name) and f.id in funcs:
                src, name = funcs[f.id]
            elif (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and f.value.id in mods
            ):
                src, name = mods[f.value.id], f.attr
            else:
                continue
            target = src and _resolve(src, name)
            why = target and _bad_call(target, node)
            if why:
                stale[f"{path.relative_to(ROOT)}:{node.lineno}"] = f"{name}: {why}"
    assert stale == {}


def test_idlparsed_json_is_parsed_in_one_module():
    sites = {}  # module -> lines of get_json_object/from_json on idlparsed
    for path in _caller_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            f = getattr(node, "func", None)
            name = getattr(f, "attr", getattr(f, "id", None))
            if name in ("get_json_object", "from_json") and any(
                isinstance(n, ast.Constant) and n.value == "idlparsed"
                for n in ast.walk(node.args[0])
            ):
                sites.setdefault(str(path.relative_to(ROOT)), []).append(node.lineno)
    assert list(sites) == ["reffy_spark/plans/views.py"], sites


# list/dict methods that change the container they are called on
_IN_PLACE = frozenset(
    "append extend insert remove pop clear update setdefault popitem sort "
    "reverse __setitem__ __delitem__".split()
)


def _dom_field(node):
    """``X.attrs`` or ``X.children``, or a subscript of one."""
    if isinstance(node, ast.Subscript):
        node = node.value
    return isinstance(node, ast.Attribute) and node.attr in ("attrs", "children")


def test_only_the_parsers_build_or_change_the_dom():
    """A parsed page is indexed once, at parse, and its index holds for
    the page's lifetime only if no element is built outside the parsers
    (a detached element has no index) and no code changes an element's
    ``attrs`` or ``children`` after parse."""
    dom = PKG / "html" / "dom.py"
    sites = {}
    for path in _caller_files():
        if path == dom:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                writes = getattr(f, "id", getattr(f, "attr", None)) == "Element" or (
                    isinstance(f, ast.Attribute)
                    and f.attr in _IN_PLACE
                    and _dom_field(f.value)
                )
            elif isinstance(node, (ast.Assign, ast.Delete)):
                writes = any(_dom_field(t) for t in node.targets)
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                writes = _dom_field(node.target)
            else:
                writes = False
            if writes:
                sites.setdefault(str(path.relative_to(ROOT)), []).append(node.lineno)
    assert sites == {}
