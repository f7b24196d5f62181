"""Driver-contract integrity: every query has an oracle, and no dict
literal in __spark_entry__ silently drops an entry via a duplicate key
(later keys win in Python — an easy editing accident to miss)."""

import ast
import pathlib

import __spark_entry__ as entrymod


def test_every_query_has_an_oracle():
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert qs == oracles, (
        f"missing oracles: {sorted(qs - oracles)}; "
        f"orphan oracles: {sorted(oracles - qs)}"
    )


def test_no_duplicate_keys_in_contract_dicts():
    src = pathlib.Path(entrymod.__file__).read_text(encoding="utf-8")
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            keys = [k.value for k in node.keys if isinstance(k, ast.Constant)]
            dupes = {k for k in keys if keys.count(k) > 1}
            assert not dupes, f"duplicate dict keys at line {node.lineno}: {dupes}"


def test_query_callables_are_distinct():
    fns = list(entrymod.queries().values())
    assert len(fns) == len(set(fns)), "two query names map to the same callable"


def test_gate_canonicalizer_detects_drift():
    """Meta-test for the driver-gate replica itself: the row
    canonicalization must be column-order-insensitive but VALUE- and
    row-count-sensitive — otherwise a green gate proves nothing."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracles", "/root/repo/scripts/check_oracles.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    rows = [(1, 0.5, "x"), (2, 0.25, "y")]
    a = mod.norm_rows(["id", "val", "tag"], rows)
    # column permutation with matching values -> identical
    b = mod.norm_rows(["val", "tag", "id"], [(0.5, "x", 1), (0.25, "y", 2)])
    assert a == b
    # a single perturbed float beyond 1e-6 -> different
    c = mod.norm_rows(["id", "val", "tag"], [(1, 0.500001, "x"), (2, 0.25, "y")])
    assert a != c
    # row order must NOT matter; bool/None normalize stably
    d = mod.norm_rows(["id", "val", "tag"], list(reversed(rows)))
    assert a == d
    assert mod.norm_cell(True) == "true" and mod.norm_cell(None) == "None"


def test_every_engine_module_is_reachable_from_an_entry_point():
    """Every engine module must be imported, directly or transitively,
    from an entry point: the driver contract, a job, a benchmark or a
    script.  Imports inside functions count.  A module nothing reaches
    is dead code and fails here instead of drifting untested."""
    root = pathlib.Path(entrymod.__file__).resolve().parent
    pkg = "webtext_extraction_spark"

    def module_file(name):
        base = root.joinpath(*name.split("."))
        for path in (base.with_suffix(".py"), base / "__init__.py"):
            if path.is_file():
                return path
        return None

    def module_name(path):
        parts = path.relative_to(root).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    def imported_modules(path):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        package = module_name(path)
        if path.name != "__init__.py":
            package = package.rpartition(".")[0]
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                yield from (alias.name for alias in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    anchor = package.rsplit(".", node.level - 1)[0]
                    base = f"{anchor}.{base}" if base else anchor
                yield base
                # ``from pkg import submodule`` names a module too
                yield from (f"{base}.{alias.name}" for alias in node.names)

    entries = [root / "__spark_entry__.py", root / "bench.py", root / "bench_extra.py"]
    for folder in ("jobs", "scripts", "perfbench"):
        entries += sorted((root / folder).glob("*.py"))
    reached, todo = set(), list(entries)
    while todo:
        for name in imported_modules(todo.pop()):
            if not (name == pkg or name.startswith(pkg + ".")):
                continue
            # importing a.b.c also imports a and a.b
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                sub = ".".join(parts[:i])
                path = module_file(sub)
                if path is not None and sub not in reached:
                    reached.add(sub)
                    todo.append(path)

    engine = {
        module_name(path)
        for path in (root / pkg).rglob("*.py")
        if path.name != "__init__.py"
    }
    unreached = sorted(engine - reached)
    assert not unreached, f"engine modules no entry point imports: {unreached}"
