"""Every top-level def of the package is reached by something that is
not a test: a pipeline, a job, a tool, a perfbench file, a bench script
or a contract cell (``__spark_entry__.py``, whose cells live in
``contracts.py``). A def that only tests call is code no flow runs.

The walk is by name over the AST: a def counts as reached when its
name is used (as a name, an attribute or an import) in one of those
files, or in the package outside the def's own body. Attributes of
modules imported from outside the package (``pq.write_table``) do not
count. ``KEEP`` lists the defs that only tests reach and stay anyway,
each with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "wikidata_pq_spark"

KEEP = {
    ("oracle.py", "precision_recall"): "the P/R check against the pandas oracle",
    ("datagen.py", "golden_components"): "the connected-components oracle",
    ("pipeline.py", "partition_entity_tables"): "the reference's PARTITION stage (S8)",
    ("plans/audit.py", "plan_signature"): "the plan-audit helpers",
    ("plans/ddmin.py", "ddmin_range"): "the reference's ddmin_schema.py",
    ("plans/ddmin.py", "shrink_schema_drift"): "the reference's ddmin_schema.py",
    ("sources/tableio.py", "write_bucketed_table"): "the paper's bucket(n, subj) layout",
    ("sources/transcript_source.py", "register"): "the transcript data source",
}


def _external_modules(tree: ast.Module) -> set[str]:
    """Names this file binds to modules imported from outside the package."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names |= {
                a.asname or a.name.split(".")[0]
                for a in node.names if not a.name.startswith(PACKAGE)
            }
        elif (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and not (node.module or "").startswith(PACKAGE)
        ):
            names |= {a.asname or a.name for a in node.names}
    return names


def _used(node: ast.AST, external: set[str]) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            if not (isinstance(n.value, ast.Name) and n.value.id in external):
                names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.split(".")[-1])
    return names


def _defined(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else (
        [node.target] if isinstance(node, ast.AnnAssign) else []
    )
    return [t.id for t in targets if isinstance(t, ast.Name) and not t.id.startswith("__")]


def _package_defs_and_uses() -> tuple[list[tuple[str, str]], set[str]]:
    """Every top-level def as (module path, name), and the names the
    package uses outside each def's own body."""
    defs, used = [], set()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        tree = ast.parse(path.read_text())
        external = _external_modules(tree)
        for node in tree.body:
            names = _defined(node)
            module = path.relative_to(ROOT / PACKAGE).as_posix()
            defs += [(module, name) for name in names]
            used |= _used(node, external) - set(names)
    return defs, used


def _flow_files() -> list[Path]:
    return sorted(
        [*ROOT.glob("jobs/**/*.py"), *ROOT.glob("tools/**/*.py"),
         *ROOT.glob("perfbench/**/*.py"), *ROOT.glob("bench*.py"),
         ROOT / "__spark_entry__.py"]
    )


def _unreached() -> list[tuple[str, str]]:
    defs, used = _package_defs_and_uses()
    for path in _flow_files():
        tree = ast.parse(path.read_text())
        used |= _used(tree, _external_modules(tree))
    return [d for d in defs if d[1] not in used]


def test_every_package_def_is_reached_by_a_flow():
    unreached = [d for d in _unreached() if d not in KEEP]
    assert not unreached, (
        "package defs that no pipeline, job, tool, perfbench file, bench "
        f"script or contract cell reaches: {unreached}. Delete them with "
        "their tests, or add them to KEEP with a reason."
    )


def test_keep_list_names_only_unreached_defs():
    """A kept def that a flow now reaches, or that is gone, leaves the
    list, so it does not hide a later dead def of the same name."""
    assert sorted(set(KEEP) - set(_unreached())) == []
