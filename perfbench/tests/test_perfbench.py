"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_tables_are_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.write_tables(a, 0.001, 7)
    datagen.write_tables(b, 0.001, 7)
    datagen.write_tables(c, 0.001, 8)
    assert _digests(a) == _digests(b)
    assert _digests(a)["lineitem.parquet"] != _digests(c)["lineitem.parquet"]


def test_etl_input_is_byte_identical_per_seed(tmp_path):
    base = str(tmp_path / "base")
    datagen.write_tables(base, 0.001, 7)
    runs = {}
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        out = str(tmp_path / name)
        rows = datagen.write_etl_input(out, base, seed, replicas=3, n_files=4)
        runs[name] = _digests(out)
        assert rows == 3 * pq.ParquetFile(os.path.join(base, "lineitem.parquet")).metadata.num_rows
        assert len(os.listdir(os.path.join(out, "lineitem.parquet"))) == 4
    assert runs["a"] == runs["b"]
    assert runs["a"] != runs["c"]


def test_etl_layout_depends_on_seed_only():
    o1, p1, c1 = datagen.etl_layout(1000, 5, replicas=4, n_files=3)
    o2, p2, c2 = datagen.etl_layout(1000, 5, replicas=4, n_files=3)
    o3, p3, c3 = datagen.etl_layout(1000, 6, replicas=4, n_files=3)
    assert (o1 == o2).all() and (p1 == p2).all() and (c1 == c2).all()
    assert not (o1 == o3).all() and not (p1 == p3).all()
    # replica key ranges never overlap, so replicated orderkeys stay distinct
    assert all(o // datagen.KEY_OFFSET == i for i, o in enumerate(o1))
    assert c1[0] == 0 and c1[-1] == 4000 and (c1[1:] > c1[:-1]).all()


def test_lineitem_defect_share_passes_the_gate():
    li = datagen.build_tables(0.01, run.DATA_SEED)["lineitem"].to_pandas()
    bad = (li.l_quantity > 45) | (li.l_discount > 0.08)
    share = bad.mean()
    assert 0.20 < share < 0.25  # sf0.1 test tier: 140,877 / 600,000 = 0.235
    assert 100 * (1 - share) >= 75.0


@pytest.mark.parametrize("n,want,expect", [
    (1000, 90, 90), (100, 90, 90), (99, 90, 89), (50, 90, 80), (20, 90, 50), (13, 90, 50), (0, 90, 50),
])
def test_supported_percentile(n, want, expect):
    assert layers.supported_percentile(n, want) == expect


def test_supported_percentile_is_highest_with_ten_beyond():
    for n in range(20, 400):
        p = layers.supported_percentile(n, 90)
        assert n * (100 - p) / 100 >= 10
        if p < 90:
            assert n * (100 - (p + 1)) / 100 < 10


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 11)]
    assert layers.percentile(xs, 50) == 5.5
    assert layers.percentile(xs, 0) == 1.0 and layers.percentile(xs, 100) == 10.0


def test_metric_names_and_benchmark_json_agree():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert all(layers.METRIC_NAME.fullmatch(n) and len(n) <= 64 for n in names)
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def _stage(sid, attempt=0, **kw):
    return {"stageId": sid, "attemptId": attempt, **kw}


def test_diff_stages_counts_each_stage_once():
    seen: set[int] = set()
    new, missing = layers.diff_stages(seen, {0, 1}, [_stage(0), _stage(1)])
    assert [s["stageId"] for s in new] == [0, 1] and not missing
    # stage 1 is listed again by a later job (reused shuffle): not new
    new, missing = layers.diff_stages(seen, {1, 2}, [_stage(1), _stage(2)])
    assert [s["stageId"] for s in new] == [2] and not missing


def test_diff_stages_keeps_latest_attempt():
    new, _ = layers.diff_stages(set(), {5}, [_stage(5, 0, numCompleteTasks=1), _stage(5, 1, numCompleteTasks=4)])
    assert len(new) == 1 and new[0]["numCompleteTasks"] == 4


def test_diff_stages_flags_evicted_stages():
    seen = {0, 1, 2}
    # the store kept only stages 7..9 of a job that ran stages 3..9
    new, missing = layers.diff_stages(seen, set(range(3, 10)), [_stage(i) for i in range(7, 10)])
    assert [s["stageId"] for s in new] == [7, 8, 9]
    assert missing == {3, 4, 5, 6}
    # evicted IDs are settled: a later snapshot does not report them again
    _, again = layers.diff_stages(seen, {3, 10}, [_stage(10)])
    assert not again
