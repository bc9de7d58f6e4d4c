"""spark-submit --py-files packaging smoke (north_rule: 'packaged for
spark-submit --py-files').  Builds dist/engine.zip, then runs the real
job via spark-submit from a NEUTRAL working directory so every engine
import must come from the zip, not the repo checkout."""

import ast
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_job(tmp_path):
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "package_pyfiles.py")],
        capture_output=True, text=True, check=True, cwd=REPO,
    ).stdout.strip()
    assert zip_path.endswith("engine.zip") and os.path.exists(zip_path)

    # driver script shipped standalone; imports resolve from the zip
    runner = tmp_path / "run_job.py"
    runner.write_text(
        "from document_extraction_service_spark.job import main\n"
        "main()\n"
    )
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    env = {k: v for k, v in os.environ.items()}
    env.pop("PYTHONPATH", None)
    env["SPARK_DRIVER_MEM"] = "4g"
    r = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--py-files", zip_path, str(runner),
         "--input", "synthetic:60", "--output", out,
         "--lineage", lin, "--run-id", "pkg", "--n-buckets", "8"],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path),  # NOT the repo: imports must come from the zip
        env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "'n_ok': 60" in r.stdout, r.stdout[-1500:]


# DataFrame methods that run their first argument as a Python UDF
_UDF_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow",
                "applyInPandasWithState"}


def _name(node):
    """`F.pandas_udf(...)`, `F.pandas_udf` or `pandas_udf` -> "pandas_udf"."""
    node = node.func if isinstance(node, ast.Call) else node
    return getattr(node, "attr", None) or getattr(node, "id", None)


def _python_udfs(tree):
    """Every function a module hands to Spark as a Python UDF: decorated
    with pandas_udf/udf, passed to pandas_udf/udf, or passed to one of
    _UDF_METHODS by name or as the return value of a factory call.
    Yields (line, FunctionDef or None when the argument is unresolved)."""
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    defs = (ast.FunctionDef, ast.AsyncFunctionDef)

    def scope_of(node):
        node = parent.get(node)
        while node is not None and not isinstance(node, (ast.Module, *defs)):
            node = parent.get(node)
        return node

    def lookup(name, at):
        scope = scope_of(at)
        while scope is not None:
            for n in ast.walk(scope):
                if isinstance(n, defs) and n.name == name and scope_of(n) is scope:
                    return n
            scope = scope_of(scope)
        return None

    def resolve(arg):
        if isinstance(arg, ast.Name):
            return lookup(arg.id, arg)
        factory = (lookup(arg.func.id, arg)
                   if isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name) else None)
        if factory is None:
            return None
        returns = [n.value for n in ast.walk(factory)
                   if isinstance(n, ast.Return) and isinstance(n.value, ast.Name)]
        return lookup(returns[-1].id, returns[-1]) if returns else None

    decorators = {d for n in ast.walk(tree) if isinstance(n, defs) for d in n.decorator_list}
    for node in ast.walk(tree):
        if node in decorators:
            continue
        if isinstance(node, defs) and any(
                _name(d) in ("pandas_udf", "udf") for d in node.decorator_list):
            yield node.lineno, node
        elif (isinstance(node, ast.Call) and node.args
              and (_name(node) in _UDF_METHODS
                   or _name(node) in ("pandas_udf", "udf")
                   and isinstance(node.args[0], (ast.Name, ast.Call)))):
            yield node.lineno, resolve(node.args[0])


def test_one_helper_per_pattern():
    """The two-stage top-k lives only in operators.tables.top_k, no
    module wraps tables.read_table in a private `_t` shim, and every
    Python UDF in the package is wrapped in udfs.releases_zip_importers."""
    pkg = os.path.join(REPO, "document_extraction_service_spark")
    partition_id_users, shims, unreleased, n_udfs = [], [], [], 0
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            with open(path, encoding="utf-8") as f:
                src = f.read()
            if "spark_partition_id" in src:
                partition_id_users.append(rel)
            if "def _t(" in src:
                shims.append(rel)
            for line, fn in _python_udfs(ast.parse(src)):
                n_udfs += 1
                if fn is None or "releases_zip_importers" not in map(_name, fn.decorator_list):
                    unreleased.append(f"{rel}:{line}")
    assert partition_id_users == [os.path.join("operators", "tables.py")]
    assert shims == []
    assert n_udfs >= 13  # the scan above still finds the package's UDFs
    assert unreleased == []
