"""The benchmark under perfbench/ imports the package's public names;
its own tests are not part of this suite, so a rename here would break
the benchmark silently. Importing its modules (no Spark session) keeps
that dependency checked, and binding each of its calls into the package
to the callee's signature keeps a dropped parameter or keyword from
failing only the benchmark."""

import ast
import glob
import importlib
import inspect
import os

PACKAGE = "weak_supervision_for_ner_spark"
PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench")


def test_benchmark_modules_import(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    for name in ("kgbench.workloads", "kgbench.expected"):
        assert importlib.import_module(name)


def _package_imports(tree) -> dict:
    """Local name -> object of every ``from weak_supervision_for_ner_spark…
    import …`` in a module."""
    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PACKAGE:
            module = importlib.import_module(node.module)
            for alias in node.names:
                names[alias.asname or alias.name] = getattr(module, alias.name)
    return names


def _module_names(tree) -> set:
    """Local names bound by plain ``import …`` statements (json, os, …)."""
    return {
        (alias.asname or alias.name).split(".")[0]
        for node in ast.walk(tree) if isinstance(node, ast.Import)
        for alias in node.names
    }


def _signature(cls, name: str) -> tuple:
    """(signature, bound-receiver count) of a method looked up on a class."""
    static = inspect.getattr_static(cls, name)
    receiver = 0 if isinstance(static, (staticmethod, classmethod)) else 1
    return inspect.signature(getattr(cls, name)), receiver


def test_benchmark_calls_bind_to_package_signatures():
    trees = {}
    for path in sorted(glob.glob(os.path.join(PERFBENCH, "kgbench", "*.py"))):
        with open(path) as fd:
            trees[os.path.relpath(path, PERFBENCH)] = ast.parse(fd.read(), path)
    imports = {name: _package_imports(tree) for name, tree in trees.items()}
    methods = {
        attr: cls
        for names in imports.values() for cls in names.values() if inspect.isclass(cls)
        for attr, value in vars(cls).items()
        if not attr.startswith("_") and callable(getattr(cls, attr))
    }

    checked = []
    for name, tree in trees.items():
        imported, modules = imports[name], _module_names(tree)
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            func = call.func
            if isinstance(func, ast.Name) and callable(imported.get(func.id)):
                callee, sig, receiver = func.id, inspect.signature(imported[func.id]), 0
            elif (isinstance(func, ast.Attribute) and func.attr in methods
                  and not (isinstance(func.value, ast.Name) and func.value.id in modules)):
                callee = f"{methods[func.attr].__name__}.{func.attr}"
                sig, receiver = _signature(methods[func.attr], func.attr)
            else:
                continue
            starred = any(isinstance(a, ast.Starred) for a in call.args)
            positional = [None] * (receiver + (0 if starred else len(call.args)))
            keywords = {k.arg: None for k in call.keywords if k.arg is not None}
            where = f"{name}:{call.lineno} {callee}"
            try:
                if starred or any(k.arg is None for k in call.keywords):
                    sig.bind_partial(*positional, **keywords)
                else:
                    sig.bind(*positional, **keywords)
            except TypeError as exc:
                raise AssertionError(f"{where} does not bind to {sig}: {exc}") from None
            checked.append(where)
    callees = {where.split(" ")[1] for where in checked}
    # the calls the benchmark's timed and traced runs depend on
    assert {"run_kg_pipeline", "HMMAggregator.fit_spark", "HMMAggregator.decode_spark",
            "canonicalize_triples", "extract_triples_direct",
            "extract_triples_hmm_fused", "stage_metrics"} <= callees, sorted(checked)
