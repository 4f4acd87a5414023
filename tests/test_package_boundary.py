"""The library never imports the bench harness or sniffs who its caller is
(session app name, process argv, the harness's environment variables)."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "scrapy_processors_spark"
HARNESS_MODULES = {"bench", "bench_extra", "__spark_entry__"}
HARNESS_STRINGS = {"spark.app.name", "SPARK_GRAFT_WARM_PLANS",
                   "SPARK_GRAFT_WARM_PYTHON", "SPARK_GRAFT_SF_DIR"}


def _violations(path: Path) -> list:
    tree = ast.parse(path.read_text(), filename=str(path))
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    found = []
    for node in ast.walk(tree):
        where = f"{path.relative_to(PKG.parent)}:{getattr(node, 'lineno', 0)}"
        names = []
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        found += [f"{where} imports {n}" for n in names
                  if n.split(".")[0] in HARNESS_MODULES or n == "sys.argv"]
        if isinstance(node, ast.Attribute):
            # builder.appName(name) sets the name; any other use reads it
            if node.attr == "appName" and id(node) not in called:
                found.append(f"{where} reads appName")
            if (node.attr == "argv" and isinstance(node.value, ast.Name)
                    and node.value.id == "sys"):
                found.append(f"{where} reads sys.argv")
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            found += [f"{where} mentions {s}" for s in HARNESS_STRINGS
                      if s in node.value]
    return found


def test_package_does_not_depend_on_harness():
    files = sorted(PKG.rglob("*.py"))
    assert files
    found = [v for f in files for v in _violations(f)]
    assert not found, "\n".join(found)
