"""Source test: an operator takes only the options its callers set.

A parameter with a default that every non-test caller leaves at one
value (never passed, or always passed the same expression) is a
constant with extra surface: the tests, the plan golden and the DuckDB
twins all assume that one value, and a caller passing another could
silently desynchronize a Spark operator from its oracle. Such a value
belongs in the body as a module constant. The exemptions below are
the parameters a test needs to reach a branch at small data, the
package API, and deployment settings."""

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
    "run_available_now.output_mode": "streaming tests drive complete/update/append sinks",
    "read_delta.version_as_of": "Delta time travel, exercised by the Delta log tests",
    "read_delta_appends.to_version": "Delta change-feed bound, exercised by the Delta log tests",
    "read_change_feed.version_to": "Delta change-feed bound, exercised by the Delta log tests",
    "compact_delta.target_files": "Delta OPTIMIZE target, exercised by the Delta log tests",
    "vacuum_delta.keep_last": "Delta VACUUM retention, exercised by the Delta log tests",
    "connected_components.max_iter": "cap: a test reaches the non-convergence raise with 1",
    "candidate_pairs.max_block_size": "cap: small test blocks cannot reach 10,000",
    "oversized_blocks.max_block_size": "cap: small test blocks cannot reach 10,000",
    "compact_parquet.target_file_bytes": "cap: a test file set cannot reach 128 MB",
    "global_row_number.n_buckets": "tests pin several buckets on a few rows",
    "with_hilbert.bits": "a test enumerates a 2^3 grid exhaustively",
    "cooccurrence_pairs.degree_cap": "cap: tests drop a 3-entity context with 2",
    "cooccurrence_pairs.min_shared": "threshold: a test filters singletons with 2",
    "cooccurrence_pairs_sql.degree_cap": "twin of cooccurrence_pairs.degree_cap",
    "cooccurrence_pairs_sql.min_shared": "twin of cooccurrence_pairs.min_shared",
    "shingle_jaccard_pairs.threshold": "threshold: tests reach pairs on short docs below 0.8",
    "shingle_containment_pairs.threshold": "threshold: tests reach pairs on short docs below 0.8",
    "shingle_jaccard_pairs.df_cap": "hot-shingle skew lever (shingle_df_histogram sizes it); tests cap at 2",
    "shingle_containment_pairs.df_cap": "hot-shingle skew lever; a test caps at 2",
    "prefix_filter_jaccard_pairs.threshold_num": "threshold: a test compares against Jaccard at 1/2",
    "prefix_filter_jaccard_pairs.threshold_den": "threshold: a test compares against Jaccard at 1/2",
    "incremental_dedup_status.neardup_min": "threshold: a test gates near-dups at 1.0",
    "range_join.bucket_seconds": "tests check exactness at 1800 s and 86400 s buckets",
    "range_join.how": "a test reaches the left join and the rejected full join",
    "salted_join.how": "a test reaches the rejected dim-preserving join",
    "profile.exact_distinct": "HLL lever for wide profiles; a test reaches the approx path",
    "scrub.token": "a test reaches replacement escaping with a metacharacter token",
    "scrub_sql.token": "twin of scrub.token",
    "assign_split.seed": "tests check seed sensitivity of the split",
    "assign_split_sql.seed": "twin of assign_split.seed",
    "weighted_sample.seed": "a test draws over 30 seeds",
    "weighted_sample_sql.seed": "twin of weighted_sample.seed",
}


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
