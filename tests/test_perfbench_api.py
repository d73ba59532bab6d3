"""The benchmark under perfbench/ imports the package's public names;
its own tests are not part of this suite, so a rename here would break
the benchmark silently. Importing its modules (no Spark session) keeps
that dependency checked."""

import importlib
import os

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench")


def test_benchmark_modules_import(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    for name in ("kgbench.workloads", "kgbench.expected"):
        assert importlib.import_module(name)
