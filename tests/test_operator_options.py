"""Guard against option creep in the operator layer.

An *option* is a defaulted parameter of a module-level public function in
``varda_spark/`` (``catalog.py`` aside: its keys are the product surface,
not reusable operators). An option is *dead* when no call in the package,
the tests, the tools, the benchmark or the driver entry passes it a value
other than its default. A call that forwards an option of its own caller
(``key=key``) passes that caller's default when the caller's option is
dead. A dead option is a constant written as a parameter: this test names
every one so it is folded into its function instead.
"""

import ast
import functools
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLER_DIRS = ("varda_spark", "tests", "tools", "perfbench")
CALLER_FILES = ("bench.py", "__spark_entry__.py")

# Options kept on purpose although no caller sets them.
ALLOWED = {
    # Bounds state in a long-running stream; pinning it needs a
    # processing-time test, which a drained test query cannot give.
    ("varda_spark/streaming/windows.py", "running_user_totals_stream", "timeout_minutes"),
}

# A top-level block starts at a column-0 decorator, def or class line.
_BLOCK_START = re.compile(r"^(?:@|def |class |async def )", re.M)


def _py_files(rel):
    top = os.path.join(ROOT, rel)
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _read(path):
    with open(path) as fh:
        return fh.read()


def _same(a, b):
    if ast.dump(a) == ast.dump(b):
        return True
    try:
        return ast.literal_eval(a) == ast.literal_eval(b)
    except ValueError:
        return False


def _options(package):
    """{(module, function, option): default node} and each function's
    positional parameter names, from the parsed package modules."""
    opts, positional = {}, {}
    for rel, tree in package.items():
        if rel.endswith("catalog.py"):
            continue
        for node in tree.body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            positional[(rel, node.name)] = [p.arg for p in pos]
            for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults):
                opts[(rel, node.name, p.arg)] = d
            for p, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    opts[(rel, node.name, p.arg)] = d
    return opts, positional


def _blocks(src, pattern):
    """Module ASTs covering every line of ``src`` that ``pattern`` matches:
    only the top-level blocks holding a match are parsed (``catalog.py`` is
    40k lines), or the whole source when a block does not parse alone."""
    starts = [0] + [m.start() for m in _BLOCK_START.finditer(src)] + [len(src)]
    hits = [m.start() for m in pattern.finditer(src)]
    trees, i = [], 0
    for lo, hi in zip(starts, starts[1:]):
        if i < len(hits) and hits[i] < hi:
            while i < len(hits) and hits[i] < hi:
                i += 1
            try:
                trees.append(ast.parse(src[lo:hi]))
            except SyntaxError:
                return [ast.parse(src)]
    return trees


def _calls(trees, functions):
    """Yield (callee name, call node, enclosing function chain) for every
    call of a function named in ``functions``."""
    for rel, tree in trees:

        def walk(node, chain):
            for child in ast.iter_child_nodes(node):
                inner = chain
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                    inner = chain + [(rel, child, node is tree)]
                elif isinstance(child, ast.Call):
                    f = child.func
                    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    if name in functions:
                        yield name, child, chain
                yield from walk(child, inner)

        yield from walk(tree, [])


def _forwarded(value, chain):
    """The option a bare name forwards from its enclosing module-level
    function, or None when the value is not such a pass-through."""
    if not isinstance(value, ast.Name):
        return None
    for rel, fn, top in reversed(chain):
        a = fn.args
        if value.id in {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}:
            return (rel, fn.name, value.id) if top and isinstance(fn, ast.FunctionDef) else None
    return None


@functools.cache
def dead_options():
    """(all options, dead options) by the rule in the module docstring."""
    package = {os.path.relpath(p, ROOT): ast.parse(_read(p)) for p in _py_files("varda_spark")
               if not p.endswith("catalog.py")}
    opts, positional = _options(package)
    by_name, own = {}, {}
    for rel, fn in positional:
        by_name.setdefault(fn, []).append((rel, fn))
    for key in opts:
        own.setdefault(key[:2], []).append(key)
    pattern = re.compile(r"\b(?:%s)\(" % "|".join(sorted({f for _, f, _ in opts})))
    trees = list(package.items())
    paths = [p for d in CALLER_DIRS for p in _py_files(d)] + [os.path.join(ROOT, f) for f in CALLER_FILES]
    for path in paths:
        rel = os.path.relpath(path, ROOT)
        if rel not in package:
            trees += [(rel, t) for t in _blocks(_read(path), pattern)]
    # Each (option, default, value passed or None if unknown, call chain).
    passes = []
    for name, call, chain in _calls(trees, by_name):
        spread = any(isinstance(a, ast.Starred) for a in call.args) or any(
            kw.arg is None for kw in call.keywords)
        for target in by_name[name]:
            given = dict(zip(positional[target], call.args))
            given.update((kw.arg, kw.value) for kw in call.keywords if kw.arg)
            for key in own.get(target, ()):
                if spread or key[2] in given:
                    value = None if spread else given[key[2]]
                    passes.append((key, opts[key], value, chain))
    dead = set(opts)
    changed = True
    while changed:
        changed = False
        for key, default, value, chain in passes:
            if key not in dead:
                continue
            src = _forwarded(value, chain) if value is not None else None
            if value is None:
                live = True
            elif src == key:
                live = False
            elif src in opts:
                live = src not in dead or not _same(opts[src], default)
            else:
                live = not _same(value, default)
            if live:
                dead.discard(key)
                changed = True
    return opts, frozenset(dead)


def test_no_dead_options():
    _, dead = dead_options()
    creep = sorted(dead - ALLOWED)
    assert not creep, (
        "options no caller sets; make them constants in their function:\n"
        + "\n".join(f"{m}::{f}({o}=)" for m, f, o in creep))


def test_allowlist_names_dead_options():
    opts, dead = dead_options()
    assert ALLOWED <= set(opts), sorted(ALLOWED - set(opts))
    assert ALLOWED <= dead, sorted(ALLOWED - dead)
