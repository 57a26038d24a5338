"""Every function handed to `applyInPandas` is annotated all-or-nothing.

PySpark 4.1 infers a grouped function's eval type from its type hints and
warns `Cannot infer the eval type from type hints` when only some of them
are given (e.g. `def build(key, pdf: pd.DataFrame) -> pd.DataFrame`). The
scan is static, so it needs no Spark session."""
import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdal_spark"


def _parents(tree):
    up = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            up[child] = node
    return up


def _resolve(name, call, up):
    """The def named `name` visible at `call`: the innermost enclosing
    function's (latest one before the call), else the module's."""
    scope = up.get(call)
    while scope is not None:
        if isinstance(scope, (ast.FunctionDef, ast.Module)):
            defs = [n for n in ast.walk(scope)
                    if isinstance(n, ast.FunctionDef) and n.name == name
                    and n.lineno < call.lineno]
            if defs:
                return max(defs, key=lambda n: n.lineno)
        scope = up.get(scope)
    return None


def _partially_hinted(fn):
    args = fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
    hints = [a.annotation is not None for a in args]
    hints.append(fn.returns is not None)
    return any(hints) and not all(hints)


def _grouped_fn(arg, call, up):
    """The def an applyInPandas argument names: `fn`, or the def that a
    factory call `make_fn(...)` returns."""
    if isinstance(arg, ast.Name):
        return _resolve(arg.id, call, up)
    if isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
        factory = _resolve(arg.func.id, call, up)
        for ret in ast.walk(factory) if factory else ():
            if (isinstance(ret, ast.Return)
                    and isinstance(ret.value, ast.Name)):
                return _resolve(ret.value.id, ret, up)
    return None


def grouped_functions():
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        up = _parents(tree)
        for call in ast.walk(tree):
            if (isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "applyInPandas" and call.args):
                fn = _grouped_fn(call.args[0], call, up)
                if fn is not None:
                    yield path.relative_to(PKG.parent), fn


def test_scan_finds_grouped_functions():
    assert len(list(grouped_functions())) >= 40


def test_grouped_functions_fully_hinted():
    bad = [f"{path}:{fn.lineno} {fn.name}"
           for path, fn in grouped_functions() if _partially_hinted(fn)]
    assert not bad, "partially type-hinted applyInPandas functions:\n" \
        + "\n".join(bad)
