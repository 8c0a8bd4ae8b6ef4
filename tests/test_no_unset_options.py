"""Guard against options nobody sets.

Every defaulted parameter of a public function in the engine package
must be passed a non-default value by some caller — the engine itself,
the driver contract, the bench scripts, ``tools/``, ``perfbench/`` or
the tests.  A parameter that no caller sets is one decision written
twice (once as the kernel's knob, once as its DuckDB twin's), so it
belongs in a module constant both read.  The few exceptions are listed
in :data:`KEEP` with their reason.

Pure AST work (no Spark, no imports of the engine): call sites are
matched by function name, then by keyword or position.  A value counts
as the default only when both sides resolve to the same Python literal
(directly, or through a module-level constant); anything else — a
variable, an expression — counts as setting the parameter.

Run ``python tests/test_no_unset_options.py`` to print the counts.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "geocoordinateconverter_spark"
CALLERS = [PKG, ROOT / "__spark_entry__.py", ROOT / "bench.py",
           ROOT / "bench_extra.py", ROOT / "tools", ROOT / "perfbench",
           ROOT / "tests"]

# module (relative to the package) → reason every parameter stays
KEEP_MODULES = {
    "api.py": "mirrors the gk-slo CLI options",
}
# "module:function.parameter" → reason it stays although unset
KEEP = {
    "operators/knn.py:knn_join.k": "perfbench passes it",
    "operators/similarity.py:ivfpq_topk.k": "perfbench passes it",
    "operators/similarity.py:ivfpq_topk.nprobe": "perfbench passes it",
    "sources/webpages.py:locale_pages_sql.documents": "names a table",
    "sources/webpages.py:multi_mention_pages_sql.documents": "names a table",
}

_UNKNOWN = object()


def _files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    return sorted(p for p in path.rglob("*.py")
                  if "data" not in p.relative_to(path).parts)


def _literal(node: ast.AST, consts: dict):
    """The node's value if it is a literal or a known constant name."""
    try:
        return ast.literal_eval(node)
    except (ValueError, SyntaxError, TypeError):
        pass
    name = (node.id if isinstance(node, ast.Name) else
            node.attr if isinstance(node, ast.Attribute) else None)
    return consts.get(name, _UNKNOWN)


def _module_consts(tree: ast.Module) -> dict:
    out = {}
    for node in tree.body:
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            try:
                out[node.targets[0].id] = ast.literal_eval(node.value)
            except (ValueError, SyntaxError, TypeError):
                pass
    return out


def _public_defs(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
            yield node, 0
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for n in node.body:
                if isinstance(n, ast.FunctionDef) and not n.name.startswith("_"):
                    yield n, 1  # bound methods: callers omit self


def _defaulted(fn: ast.FunctionDef):
    a = fn.args
    pos = a.posonlyargs + a.args
    for arg, d in zip(pos[len(pos) - len(a.defaults):], a.defaults):
        yield arg.arg, pos.index(arg), d
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield arg.arg, None, d


def scan() -> tuple[int, list[str]]:
    """(defaulted public parameters, those no caller sets)."""
    trees = {p: ast.parse(p.read_text()) for root in CALLERS
             for p in _files(root)}
    pkg_consts: dict = {}
    for p, t in trees.items():
        if PKG in p.parents:
            for k, v in _module_consts(t).items():
                # a name bound to different values is not resolvable
                pkg_consts[k] = v if pkg_consts.get(k, v) == v else _UNKNOWN
    calls: dict[str, list] = {}
    for p, t in trees.items():
        consts = {**pkg_consts, **_module_consts(t)}
        for node in ast.walk(t):
            if isinstance(node, ast.Call):
                f = node.func
                name = (f.id if isinstance(f, ast.Name) else
                        f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    calls.setdefault(name, []).append((node, consts))
    total, unset = 0, []
    for p, t in trees.items():
        if PKG not in p.parents:
            continue
        rel = p.relative_to(PKG).as_posix()
        consts = {**pkg_consts, **_module_consts(t)}
        for fn, skip in _public_defs(t):
            for arg, idx, dnode in _defaulted(fn):
                total += 1
                key = f"{rel}:{fn.name}.{arg}"
                if rel in KEEP_MODULES or key in KEEP:
                    continue
                default = _literal(dnode, consts)
                sets = False
                for call, cconsts in calls.get(fn.name, []):
                    vals = [kw.value for kw in call.keywords if kw.arg == arg]
                    if (idx is not None and idx - skip < len(call.args)
                            and not any(isinstance(a, ast.Starred)
                                        for a in call.args[:idx - skip + 1])):
                        vals.append(call.args[idx - skip])
                    for v in vals:
                        val = _literal(v, cconsts)
                        if (val is _UNKNOWN or default is _UNKNOWN
                                or val != default):
                            sets = True
                if not sets:
                    unset.append(key)
    return total, unset


def test_every_defaulted_parameter_is_set_by_some_caller():
    _, unset = scan()
    assert not unset, (
        "defaulted parameters no caller sets — replace each with a module "
        f"constant the operator and its twin both read: {unset}")


def test_keep_list_names_existing_parameters():
    keys = set()
    for p in _files(PKG):
        rel = p.relative_to(PKG).as_posix()
        for fn, _ in _public_defs(ast.parse(p.read_text())):
            keys.update(f"{rel}:{fn.name}.{arg}" for arg, _, _ in _defaulted(fn))
    assert set(KEEP) <= keys, set(KEEP) - keys
    assert all((PKG / m).exists() for m in KEEP_MODULES)


if __name__ == "__main__":
    n, missing = scan()
    print(f"defaulted public parameters: {n}; unset, not kept: {len(missing)}")
    for k in missing:
        print(" ", k)
