"""Import smoke test: every module of the package imports, and so does
every lazy ``from .x import y`` inside the CLI's ``_cmd_*`` handlers.
Those imports run only when a subcommand runs, so without this test a
handler that still names a removed module or function would pass the
rest of the suite. No Spark session is started."""

import ast
import importlib.util
import inspect
import pkgutil

import rassengine_spark
import rassengine_spark.__main__ as cli


def test_every_package_module_imports():
    names = [m.name for m in pkgutil.walk_packages(
        rassengine_spark.__path__, prefix="rassengine_spark.")]
    assert names
    for name in names:
        importlib.import_module(name)


def _cli_handler_imports():
    """(module, name) for each relative import in a _cmd_* handler."""
    tree = ast.parse(inspect.getsource(cli))
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef) and fn.name.startswith("_cmd_"):
            for node in ast.walk(fn):
                if isinstance(node, ast.ImportFrom) and node.level:
                    mod = importlib.util.resolve_name(
                        "." * node.level + (node.module or ""),
                        cli.__package__)
                    for alias in node.names:
                        yield fn.name, mod, alias.name


def test_cli_handler_lazy_imports_resolve():
    found = list(_cli_handler_imports())
    assert {h for h, _, _ in found} >= {"_cmd_ingest", "_cmd_ask",
                                        "_cmd_index", "_cmd_table"}
    for handler, mod, name in found:
        m = importlib.import_module(mod)
        assert hasattr(m, name) or importlib.util.find_spec(
            f"{mod}.{name}") is not None, (handler, mod, name)
