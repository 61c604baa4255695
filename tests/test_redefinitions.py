"""No name is bound twice in one class or module body of ``modin_spark``:
the later binding silently shadows the earlier one, so the two copies drift
(an alias such as ``__radd__ = radd`` stays bound to the first). Property
setters and deleters re-bind their property by design and are exempt."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent / "modin_spark"


def _is_accessor(node) -> bool:
    return any(isinstance(d, ast.Attribute) and d.attr in ("setter", "deleter")
               for d in node.decorator_list)


def _bindings(body):
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_accessor(node):
                yield node.name, node.lineno
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    yield target.id, node.lineno


def test_no_name_bound_twice_in_one_body():
    hits = []
    for path in sorted(ROOT.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for scope in [tree, *(n for n in ast.walk(tree) if isinstance(n, ast.ClassDef))]:
            seen = {}
            for name, line in _bindings(scope.body):
                if name in seen:
                    where = getattr(scope, "name", "<module>")
                    hits.append(f"{path.relative_to(ROOT.parent)}:{line} {where}.{name} "
                                f"(first bound at line {seen[name]})")
                seen[name] = line
    assert not hits, "\n".join(hits)
