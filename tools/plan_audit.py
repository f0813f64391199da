"""Per-query plan record: the engine's one audit.

``plan_record(spark, executions, oracle)`` reads from the SQL status
store the physical plan of every SQL execution a query started, each
eager ``pin()`` and ``count()`` included, as ``queries.run`` records
them. The record counts:

  executions     SQL executions the query started;
  native_round   native ``round(`` expressions (a column merely *named*
                 ``round(...)`` is not one);
  global_window  ``Window`` nodes with an empty partition spec, which
                 move every row to one partition;
  cartesian      ``CartesianProduct`` nodes;
  python_eval    Python-eval nodes (Python and pandas UDFs, mapIn*,
                 applyIn*);
  oracle_round   ``round`` calls in the DuckDB oracle, read from its
                 ``json_serialize_sql`` parse tree, so comments never count.

An adaptive plan's description holds the final and the initial plan;
only the initial plan is counted, because the final one is re-planned
from runtime statistics. Jobs and exchanges are not recorded: both
change between runs of the same query.

``tests/test_oracle_parity.py`` compares every query's record with its
line in ``plan_golden.tsv`` when it runs at the golden's tier. A rise
flags a new round site, global window, cartesian, Python worker or eager
action; a drop fails too, so the golden stays exact. Re-pin with:

    python tools/plan_audit.py --regen [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GOLDEN_PATH = os.path.join(REPO, "tools", "plan_golden.tsv")
FIELDS = ("executions", "native_round", "global_window", "cartesian", "python_eval", "oracle_round")

_TREE_ID = re.compile(r" \((\d+)\)(?:,|$)")  # "+- * Sort (6)", "ShuffleQueryStage (3), Statistics(..."
_BLOCK = re.compile(r"^\((\d+)\) ([^\n]*)", re.M)  # "(6) Sort [codegen id : 2]"
_ROUND = re.compile(r"\bround\(")
_PY_EVAL = re.compile(r"Python|InPandas|InArrow")
_SORT_ORDER = re.compile(r" (?:ASC|DESC) NULLS (?:FIRST|LAST)$")


def _final_only_ids(text: str) -> set[str]:
    """IDs of the nodes listed only under an adaptive plan's Final Plan."""
    final: set[str] = set()
    other: set[str] = set()
    part = None
    for line in text.splitlines():
        if line.startswith(("== Physical Plan ==", "Subquery:")):
            part = other
        elif not line.strip():
            part = None
        elif part is not None:
            if "== Final Plan ==" in line:
                part = final
            elif "== Initial Plan ==" in line:
                part = other
            elif m := _TREE_ID.search(line):
                part.add(m.group(1))
    return final - other


def _blocks(text: str):
    """``(node name, details)`` of every node the record counts."""
    skip = _final_only_ids(text)
    heads = list(_BLOCK.finditer(text))
    for m, nxt in zip(heads, heads[1:] + [None]):
        if m.group(1) not in skip:
            body = text[m.end(): nxt.start() if nxt else len(text)]
            yield m.group(2).split(" [codegen id")[0].strip(), body


def _closing(text: str, i: int, pairs: str = "()") -> int:
    """Index just past the bracket that closes the one opened before ``i``."""
    depth = 1
    while depth and i < len(text):
        depth += (text[i] == pairs[0]) - (text[i] == pairs[1])
        i += 1
    return i


def _native_rounds(body: str) -> int:
    # round(x#1, 2) is an expression; round(x, 2)#5 is an attribute name
    return sum(not body.startswith("#", _closing(body, m.end())) for m in _ROUND.finditer(body))


def _is_global_window(body: str) -> bool:
    """A formatted Window's ``Arguments:`` line drops an empty list: it reads
    ``[exprs], [partition], [order]``, ``[exprs], [partition]``,
    ``[exprs], [order]`` or ``[exprs]``."""
    args = body.split("Arguments: ", 1)[1]
    lists, i = [], args.find("[")
    while i >= 0:
        end = _closing(args, i + 1, "[]")
        lists.append(args[i + 1: end - 1])
        i = args.find("[", end)
    return len(lists) == 1 or (len(lists) == 2 and bool(_SORT_ORDER.search(lists[1])))


def _count_plan(text: str) -> dict[str, int]:
    """Plan-side counts of one formatted physical-plan description."""
    out = dict(native_round=0, global_window=0, cartesian=0, python_eval=0)
    for name, body in _blocks(text):
        out["native_round"] += _native_rounds(body)
        out["global_window"] += name == "Window" and _is_global_window(body)
        out["cartesian"] += name == "CartesianProduct"
        out["python_eval"] += bool(_PY_EVAL.search(name))
    return out


def _oracle_rounds(sql: str | None) -> int:
    """``round`` calls in a DuckDB oracle, comments excluded."""
    if sql is None:
        return 0
    tree = json.loads(duckdb.execute("SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0])
    if tree["error"]:
        raise ValueError(f"oracle does not parse: {tree['error_message']}")

    def walk(node) -> int:
        if isinstance(node, dict):
            own = node.get("class") == "FUNCTION" and node.get("function_name", "").lower() == "round"
            return own + sum(walk(v) for v in node.values())
        if isinstance(node, list):
            return sum(walk(v) for v in node)
        return 0

    return walk(tree["statements"])


def plan_record(spark, executions, oracle: str | None) -> dict[str, int]:
    """The record of the SQL executions ``executions`` (IDs, as
    ``queries.run`` records them) and of the query's DuckDB ``oracle``."""
    store = spark._jsparkSession.sharedState().statusStore()
    record = dict.fromkeys(FIELDS, 0)
    record["executions"] = len(executions)
    for eid in executions:
        ui = store.execution(eid)
        if ui.isEmpty():
            raise RuntimeError(f"SQL execution {eid} left the status store before it was read")
        for k, v in _count_plan(ui.get().physicalPlanDescription()).items():
            record[k] += v
    record["oracle_round"] = _oracle_rounds(oracle)
    return record


def load_golden() -> tuple[str, dict[str, dict[str, int]]]:
    """``(tier, {query: record})``; the tier is the data directory's name."""
    with open(GOLDEN_PATH) as fh:
        tier = fh.readline().split()[-1]
        fh.readline()  # column header
        rows = [line.split("\t") for line in fh if line.strip()]
    return tier, {r[0]: dict(zip(FIELDS, map(int, r[1:]))) for r in rows}


def write_golden(tier: str, golden: dict[str, dict[str, int]]) -> None:
    with open(GOLDEN_PATH, "w") as fh:
        fh.write(f"# plan record, checked by test_oracle_parity at tier {tier}\n")
        fh.write("\t".join(("query",) + FIELDS) + "\n")
        for name in sorted(golden):
            fh.write("\t".join([name] + [str(golden[name][k]) for k in FIELDS]) + "\n")


def drift(name: str, record: dict[str, int], golden: dict[str, dict[str, int]]) -> list[str]:
    """Messages naming each field where ``record`` leaves the golden."""
    hint = f"re-pin with `python tools/plan_audit.py --regen {name}` if intended"
    if name not in golden:
        return [f"{name}: no golden plan record; {hint}"]
    return [
        f"{name}: {k} golden {golden[name][k]}, now {record[k]}; {hint}"
        for k in FIELDS
        if record[k] != golden[name][k]
    ]


def main() -> None:
    ap = argparse.ArgumentParser(description="Re-pin the plan golden at the test tier.")
    ap.add_argument("--regen", action="store_true", required=True,
                    help="sweep the queries and rewrite their golden lines")
    ap.add_argument("names", nargs="*", help="queries to sweep, in this order (default: all)")
    args = ap.parse_args()

    from nyc_taxi_data_engineering_spark.queries import registry, run
    from tests.conftest import TEST_SF_DIR, build_session

    reg = registry()
    tier = os.path.basename(os.path.normpath(TEST_SF_DIR))
    golden: dict[str, dict[str, int]] = {}  # a full sweep drops unregistered queries
    if args.names:
        golden_tier, golden = load_golden()
        if golden_tier != tier:
            ap.error(f"the golden is at {golden_tier}; re-pin every query at {tier}")
    spark = build_session(tempfile.mkdtemp(prefix="plan_audit_"))
    for name in args.names or list(reg):
        _, ran = run(spark, name, TEST_SF_DIR, lambda df: df.toPandas())
        golden[name] = plan_record(spark, ran["executions"], reg[name].oracle)
        print(name, json.dumps(golden[name]), flush=True)
    write_golden(tier, golden)
    print(f"# {len(golden)} records at {tier} -> {os.path.relpath(GOLDEN_PATH, REPO)}")


if __name__ == "__main__":
    main()
