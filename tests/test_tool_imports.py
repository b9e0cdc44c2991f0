"""Static import check over the scripts: every ``from <local module> import
name`` in ``tools/*.py`` and ``bench.py`` — including imports inside
functions, where most tools import — must resolve to a name the target
module defines. Deleting a helper then cannot leave a surviving tool with a
dangling import. Pure ``ast``: nothing is imported or run.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# where a script's absolute imports can land locally: the repo root (the
# package, ``bench``, ``tools.*``) and tools/ itself (sibling helpers that
# the tools import after putting their own directory on sys.path)
_ROOTS = (REPO, os.path.join(REPO, "tools"))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))) + [
    os.path.join(REPO, "bench.py")
]


def _module_file(module: str) -> str | None:
    rel = module.replace(".", os.sep)
    for root in _ROOTS:
        for cand in (os.path.join(root, rel + ".py"),
                     os.path.join(root, rel, "__init__.py")):
            if os.path.isfile(cand):
                return cand
    return None


def _top_level_names(path: str) -> set[str]:
    """Names bound at module level (descending into if/try blocks, not into
    functions or classes), plus the submodules of a package."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names: set[str] = set()
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.If, ast.Try)):
            for field in ("body", "orelse", "finalbody", "handlers"):
                stack.extend(getattr(node, field, []))
        elif isinstance(node, ast.ExceptHandler):
            stack.extend(node.body)
    if os.path.basename(path) == "__init__.py":
        pkg = os.path.dirname(path)
        names.update(
            n[:-3] if n.endswith(".py") else n
            for n in os.listdir(pkg)
            if n.endswith(".py") or os.path.isfile(os.path.join(pkg, n, "__init__.py"))
        )
    return names


def _dangling(script: str) -> list[str]:
    with open(script) as f:
        tree = ast.parse(f.read(), script)
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                top = a.name.split(".")[0]
                if _module_file(top) is not None and _module_file(a.name) is None:
                    bad.append(f"{node.lineno}: import {a.name}")
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            target = _module_file(node.module)
            if target is None:
                if _module_file(node.module.split(".")[0]) is not None:
                    bad.append(f"{node.lineno}: from {node.module} (no such module)")
                continue
            defined = _top_level_names(target)
            bad += [
                f"{node.lineno}: from {node.module} import {a.name}"
                for a in node.names
                if a.name != "*" and a.name not in defined
            ]
    return bad


@pytest.mark.parametrize("script", SCRIPTS, ids=os.path.basename)
def test_script_imports_resolve(script):
    assert _dangling(script) == []


def test_check_catches_a_dangling_import(tmp_path):
    bad = tmp_path / "tool.py"
    bad.write_text(
        "def main():\n"
        "    from twittercrawler_spark.functions.udfs import udf_no_such_helper\n"
        "    from twittercrawler_spark.frontier.crawl import run_round\n"
        "    from twittercrawler_spark.no_such_module import x\n"
    )
    assert _dangling(str(bad)) == [
        "2: from twittercrawler_spark.functions.udfs import udf_no_such_helper",
        "4: from twittercrawler_spark.no_such_module (no such module)",
    ]
