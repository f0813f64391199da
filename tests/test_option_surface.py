"""Source tests: an operator takes only the options its callers set,
every package definition has a caller outside the tests, no module
imports a name it does not use, and registered queries are built and
released only by the query runner.

A parameter with a default that every non-test caller leaves at one
value (never passed, or always passed the same expression) is a
constant with extra surface: the tests, the plan golden and the DuckDB
twins all assume that one value, and a caller passing another could
silently desynchronize a Spark operator from its oracle. Such a value
belongs in the body as a module constant. The exemptions below are
the parameters a test needs to reach a branch at small data, the
package API, and deployment settings.

A function or class that only tests reach is code no query, pipeline
or tool runs: it is tested but never gated against the oracle, and it
is a second path beside whatever the queries use. It belongs in the
test that needs it, or nowhere.

An unused import is dead code no linter on this project reports, so
this file is the check. A harness that frees caches itself
(``release_session_caches``, ``clearCache``, ``unpersist``) is a second
cache lifecycle beside ``queries.run``, which releases after every
query; one that builds a registered query itself leaves that query's
persists and pins held."""

from __future__ import annotations

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "nyc_taxi_data_engineering_spark"

# "function.parameter": why it keeps a default that non-test code never varies.
EXEMPT = {
    "get_spark.master": "package API (__all__): sessions built outside the harnesses",
    "get_spark.shuffle_partitions": "package API (__all__)",
    "ingest_events_to_delta.app_id": "deployment setting: the stream's app ID in the Delta txn",
    "read_events_stream.max_files_per_trigger": "stream setting; streaming tests read all files per trigger",
    "read_delta_appends.to_version": "Delta change-feed bound, exercised by the Delta log tests",
    "read_change_feed.version_to": "Delta change-feed bound, exercised by the Delta log tests",
    "compact_delta.target_files": "Delta OPTIMIZE target, exercised by the Delta log tests",
    "vacuum_delta.keep_last": "Delta VACUUM retention, exercised by the Delta log tests",
    "connected_components.max_iter": "cap: a test reaches the non-convergence raise with 1",
    "candidate_pairs.max_block_size": "cap: small test blocks cannot reach 10,000",
    "global_row_number.n_buckets": "tests pin several buckets on a few rows",
    "with_hilbert.bits": "a test enumerates a 2^3 grid exhaustively",
    "cooccurrence_pairs.degree_cap": "cap: tests drop a 3-entity context with 2",
    "cooccurrence_pairs.min_shared": "threshold: a test filters singletons with 2",
    "cooccurrence_pairs_sql.degree_cap": "twin of cooccurrence_pairs.degree_cap",
    "cooccurrence_pairs_sql.min_shared": "twin of cooccurrence_pairs.min_shared",
    "shingle_jaccard_pairs.threshold": "threshold: tests reach pairs on short docs below 0.8",
    "shingle_containment_pairs.threshold": "threshold: tests reach pairs on short docs below 0.8",
    "prefix_filter_jaccard_pairs.threshold_num": "threshold: a test compares against Jaccard at 1/2",
    "prefix_filter_jaccard_pairs.threshold_den": "threshold: a test compares against Jaccard at 1/2",
    "incremental_dedup_status.neardup_min": "threshold: a test gates near-dups at 1.0",
    "range_join.bucket_seconds": "tests check exactness at 1800 s and 86400 s buckets",
    "assign_split.seed": "tests check seed sensitivity of the split",
    "assign_split_sql.seed": "twin of assign_split.seed",
    "weighted_sample.seed": "a test draws over 30 seeds",
    "weighted_sample_sql.seed": "twin of weighted_sample.seed",
}

# "module.name": why a package definition that no non-test code reaches stays.
UNREFERENCED = {}


def _non_test_sources() -> list[pathlib.Path]:
    paths = [
        *PKG.rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    return [p for p in paths if "tests" not in p.relative_to(ROOT).parts]


def one_value_params() -> list[str]:
    """``function.parameter`` for every defaulted parameter of a package
    function that non-test code never varies. Registered ``q_*``
    queries and function names defined twice are skipped."""
    defs = collections.defaultdict(list)
    for p in PKG.rglob("*.py"):
        for n in ast.walk(ast.parse(p.read_text())):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[n.name].append(n)
    params = {}  # (function, parameter) -> (positional index or None, default text)
    for name, nodes in defs.items():
        if len(nodes) > 1 or name.startswith("q_"):
            continue
        a = nodes[0].args
        pos = a.posonlyargs + a.args
        for i, d in enumerate(a.defaults, len(pos) - len(a.defaults)):
            params[(name, pos[i].arg)] = (i, ast.unparse(d))
        for arg, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                params[(name, arg.arg)] = (None, ast.unparse(d))
    by_fn = collections.defaultdict(list)
    for fn, prm in params:
        by_fn[fn].append(prm)

    values = collections.defaultdict(set)
    for p in _non_test_sources():
        tree = ast.parse(p.read_text())
        # a caller forwarding its own parameter passes whatever it is given
        forwarded = {}
        for f in ast.walk(tree):
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                names = {x.arg for x in ast.walk(f.args) if isinstance(x, ast.arg)}
                for c in ast.walk(f):
                    forwarded.setdefault(id(c), set()).update(names)
        for c in ast.walk(tree):
            if not isinstance(c, ast.Call):
                continue
            f = c.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in by_fn:
                continue
            first = (defs[name][0].args.posonlyargs + defs[name][0].args.args)[:1]
            off = int(bool(first) and first[0].arg in ("self", "cls") and isinstance(f, ast.Attribute))
            dynamic = any(isinstance(x, ast.Starred) for x in c.args) or any(
                k.arg is None for k in c.keywords
            )
            given = {k.arg: k.value for k in c.keywords}
            for prm in by_fn[name]:
                idx, default = params[(name, prm)]
                node = given.get(prm)
                if node is None and idx is not None and len(c.args) > idx - off:
                    node = c.args[idx - off]
                if dynamic or (
                    isinstance(node, ast.Name) and node.id in forwarded.get(id(c), ())
                ):
                    values[(name, prm)].add("<any>")
                else:
                    values[(name, prm)].add(default if node is None else ast.unparse(node))
    return sorted(
        f"{fn}.{prm}" for (fn, prm), (_, d) in params.items() if len(values[(fn, prm)] | {d}) <= 1
        or (len(values[(fn, prm)]) == 1 and "<any>" not in values[(fn, prm)])
    )


def test_every_default_is_varied_by_a_caller():
    one = one_value_params()
    unexplained = [p for p in one if p not in EXEMPT]
    assert not unexplained, (
        "defaulted parameters that non-test code never varies — inline the "
        f"value as a module constant, or exempt with a reason: {unexplained}"
    )
    stale = sorted(set(EXEMPT) - set(one))
    assert not stale, f"exemptions no longer needed: {stale}"
    assert all(reason.strip() for reason in EXEMPT.values())


def _mentions(node: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _is_registered_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in node.decorator_list
    )


def unreferenced_definitions() -> list[str]:
    """``module.name`` for every module-level package function and class
    that no non-test code reaches. The roots are the registered queries,
    the module-level statements of package modules, and all of
    ``tools/``, ``perfbench/``, ``bench.py`` and ``__spark_entry__.py``;
    a definition is reached when a root or a reached definition names it
    (as a name or an attribute). Matching is by name, so of two
    definitions that share a name, both are reached or neither."""
    defs = collections.defaultdict(list)  # name -> [("module.name", node)]
    roots: set[str] = set()
    for p in PKG.rglob("*.py"):
        parts = p.relative_to(PKG).with_suffix("").parts
        module = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        for n in ast.parse(p.read_text()).body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[n.name].append((f"{module}.{n.name}", n))
                for d in n.decorator_list:
                    roots |= _mentions(d)
                if _is_registered_query(n):
                    roots.add(n.name)
            else:
                roots |= _mentions(n)
    for p in _non_test_sources():
        if PKG not in p.parents:
            roots |= _mentions(ast.parse(p.read_text()))
    reached: set[str] = set()
    todo = [r for r in roots if r in defs]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += [m for _, n in defs[name] for m in _mentions(n) if m in defs]
    return sorted(q for name, ds in defs.items() if name not in reached for q, _ in ds)


def test_every_definition_is_reached_by_non_test_code():
    dead = unreferenced_definitions()
    unexplained = [d for d in dead if d not in UNREFERENCED]
    assert not unexplained, (
        "package definitions that only tests reach — delete them (a test "
        "oracle moves into its test), or allow with a reason: "
        f"{unexplained}"
    )
    stale = sorted(set(UNREFERENCED) - set(dead))
    assert not stale, f"allowances no longer needed: {stale}"
    assert all(reason.strip() for reason in UNREFERENCED.values())


def _scanned(*roots: pathlib.Path) -> list[pathlib.Path]:
    return [q for r in roots for q in (r.rglob("*.py") if r.is_dir() else [r])]


def unused_imports() -> list[str]:
    """``path:line name`` for every imported name its module never reads
    (names listed in ``__all__`` are read), over the package, ``tools/``,
    ``tests/``, ``bench.py`` and ``__spark_entry__.py``."""
    out = []
    for p in _scanned(PKG, ROOT / "tools", ROOT / "tests", ROOT / "bench.py", ROOT / "__spark_entry__.py"):
        tree = ast.parse(p.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for n in ast.walk(tree):
            if isinstance(n, ast.Assign) and "__all__" in _mentions(n):
                used |= {c.value for c in ast.walk(n.value) if isinstance(c, ast.Constant)}
        for n in ast.walk(tree):
            if isinstance(n, ast.Import) or (isinstance(n, ast.ImportFrom) and n.module != "__future__"):
                for a in n.names:
                    name = a.asname or a.name.split(".")[0]
                    if name != "*" and name not in used:
                        out.append(f"{p.relative_to(ROOT)}:{n.lineno} {name}")
    return out


def test_no_unused_import():
    unused = unused_imports()
    assert not unused, f"imported names never used — delete the import: {unused}"


# the cache lifecycle's own unit tests call the release directly
RUNNER_EXEMPT = {ROOT / "tests" / "test_cache_registry.py"}
RELEASE_CALLS = {"release_session_caches", "clearCache", "unpersist"}


def _calls_outside_the_runner(label) -> list[str]:
    """``path:line what`` for every call in ``tools/``, ``bench.py`` or
    ``tests/`` that ``label`` names (it returns None for the others)."""
    out = []
    for p in _scanned(ROOT / "tools", ROOT / "bench.py", ROOT / "tests"):
        if p in RUNNER_EXEMPT:
            continue
        for n in ast.walk(ast.parse(p.read_text())):
            if isinstance(n, ast.Call) and (what := label(n.func)):
                out.append(f"{p.relative_to(ROOT)}:{n.lineno} {what}")
    return out


def release_calls_outside_the_runner() -> list[str]:
    """Every cache release that ``tools/``, ``bench.py`` or ``tests/``
    make themselves instead of through ``queries.run``."""

    def release(f):
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return name if name in RELEASE_CALLS else None

    return _calls_outside_the_runner(release)


def direct_builds_outside_the_runner() -> list[str]:
    """Every registered query that ``tools/``, ``bench.py`` or ``tests/``
    build themselves (``spec.fn(spark, ...)``, ``all_queries()[name](...)``)
    instead of through ``queries.run``: its persists and pins outlive it
    until some later runner call releases them."""

    def build(f):
        if isinstance(f, ast.Attribute) and f.attr == "fn":
            return ".fn("
        if isinstance(f, ast.Subscript) and isinstance(f.value, ast.Call):
            callee = f.value.func
            if isinstance(callee, ast.Name) and callee.id in ("all_queries", "registry"):
                return f"{callee.id}()[...]("
        return None

    return _calls_outside_the_runner(build)


def test_queries_are_released_only_by_the_runner():
    calls = release_calls_outside_the_runner()
    assert not calls, f"run the query through queries.run, which releases it: {calls}"


def test_queries_are_built_only_by_the_runner():
    calls = direct_builds_outside_the_runner()
    assert not calls, f"run the query through queries.run, which releases it: {calls}"
