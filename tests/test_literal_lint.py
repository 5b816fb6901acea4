"""Per-scalar literal lint for the operator and function modules.

PySpark expands ``F.lit(list)`` to ``array(lit(x), ...)`` and builds
``F.array(*[F.lit(x) for x in xs])`` the same way: one py4j round-trip
per scalar. A 16x64 centroid matrix built like that took 0.5-1.7 s of
plan construction per search; ``functions.vector.array_lit`` parses the
same values as one SQL literal in ~5 ms. This test walks the AST of
``operators/`` and ``functions/`` and fails on:

- ``F.lit(<list comprehension>)``, ``F.lit(<list variable>)`` (a name
  bound to a list, list comprehension, ``list(...)`` or ``sorted(...)``
  in the enclosing function, or a parameter annotated ``list``);
- ``F.lit([...])`` with non-constant elements or more than
  ``MAX_FIXED`` of them;
- ``F.array(*[F.lit(...) for ...])`` and ``F.array(*map(F.lit, ...))``.

Short fixed literal lists are allowed. String arrays have no typed
one-call form in array_lit; the functions that build them are allowed
by name in ``ALLOWED``.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "rag_system_vector_db_spark",
)
DIRS = ("operators", "functions")
MAX_FIXED = 8
# module.function -> why a per-element build is fine there
ALLOWED = {
    "text.stopword_count": "string array of ~20 stopwords",
    "text_index.rerank_two_stage": "string array of the query terms",
}
_LISTY_CALLS = {"list", "sorted"}


def _is_f(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == name
        and isinstance(node.value, ast.Name)
        and node.value.id == "F"
    )


def _is_lit(node: ast.AST) -> bool:
    """``F.lit(...)``, possibly followed by method calls (``.cast``)."""
    while (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Call)
    ):
        node = node.func.value
    return isinstance(node, ast.Call) and _is_f(node.func, "lit")


def _list_names(fn: ast.AST) -> set[str]:
    """Names a function binds to a list value."""
    out: set[str] = set()
    if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
        for a in fn.args.args + fn.args.kwonlyargs:
            if a.annotation is not None and "list" in ast.unparse(a.annotation):
                out.add(a.arg)
    for n in ast.walk(fn):
        if isinstance(n, ast.Assign) and len(n.targets) == 1:
            t, v = n.targets[0], n.value
            listy = isinstance(v, (ast.List, ast.ListComp)) or (
                isinstance(v, ast.Call)
                and isinstance(v.func, ast.Name)
                and v.func.id in _LISTY_CALLS
            )
            if isinstance(t, ast.Name) and listy:
                out.add(t.id)
    return out


def _bad_lit_arg(arg: ast.AST, list_names: set[str]) -> bool:
    if isinstance(arg, ast.ListComp):
        return True
    if isinstance(arg, ast.List):
        fixed = all(isinstance(e, ast.Constant) for e in arg.elts)
        return not fixed or len(arg.elts) > MAX_FIXED
    return isinstance(arg, ast.Name) and arg.id in list_names


def _bad_array_arg(arg: ast.AST) -> bool:
    if not isinstance(arg, ast.Starred):
        return False
    v = arg.value
    if isinstance(v, (ast.ListComp, ast.GeneratorExp)):
        return _is_lit(v.elt)
    return (
        isinstance(v, ast.Call)
        and isinstance(v.func, ast.Name)
        and v.func.id == "map"
        and bool(v.args)
        and _is_f(v.args[0], "lit")
    )


class _Lint(ast.NodeVisitor):
    def __init__(self, module: str):
        self.scope = [(module, set())]
        self.found: list[str] = []

    def visit_FunctionDef(self, node):
        self.scope.append((f"{self.scope[0][0]}.{node.name}", _list_names(node)))
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        where = self.scope[-1][0]
        names = set().union(*(s[1] for s in self.scope))  # closures see outer lists
        bad = (_is_f(node.func, "lit") and any(_bad_lit_arg(a, names) for a in node.args)) or (
            _is_f(node.func, "array") and any(_bad_array_arg(a) for a in node.args)
        )
        if bad and not any(w in ALLOWED for w, _ in self.scope[1:]):
            self.found.append(f"{where}:{node.lineno}")
        self.generic_visit(node)


def offenders(source: str, module: str) -> list[str]:
    """``module.function:line`` of every per-scalar literal build
    (nested functions report under their own name)."""
    lint = _Lint(module)
    lint.visit(ast.parse(source))
    return sorted(set(lint.found))


def test_no_per_scalar_literal_builds():
    found = []
    for d in DIRS:
        for name in sorted(os.listdir(os.path.join(PKG, d))):
            if name.endswith(".py"):
                with open(os.path.join(PKG, d, name)) as f:
                    found += offenders(f.read(), name[:-3])
    assert not found, (
        "per-scalar literal build (one py4j call per element) — use "
        f"functions.vector.array_lit: {found}"
    )


def test_lint_catches_the_per_scalar_forms():
    src = '''
def mat(vecs: list[list[float]]):
    return F.lit([[float(x) for x in v] for v in vecs])

def topk(query_vec):
    return F.array(*[F.lit(float(x)) for x in query_vec])

def terms(qs):
    qset = sorted(set(qs))
    return F.lit(qset), F.array(*map(F.lit, qs))

def weights(w):
    return F.array(*[F.lit(x).cast("long") for x in w])

def fine(n, c):
    return (
        F.lit([1, 2, 3]),
        F.lit(n),
        F.array(*[F.col(c) for c in "ab"]),
        F.array(*[c.bitwiseXOR(F.lit(1 << b)) for b in range(n)]),
    )
'''
    assert offenders(src, "m") == ["m.mat:3", "m.terms:10", "m.topk:6", "m.weights:13"]
