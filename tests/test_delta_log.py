"""Pure-Python Delta transaction log: versioned commits, snapshot +
time-travel reads, history, protocol-shape compliance (the JSON a real
delta-spark reader would replay), and failure modes."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.sources import delta_log as D


@pytest.fixture()
def table(spark, tmp_path):
    """v0 overwrite {1,2}, v1 append {3}, v2 overwrite {9}."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert D.write_delta(df, path, mode="overwrite") == 0
    assert D.write_delta(
        spark.createDataFrame([(3, "c")], "id long, s string"), path, mode="append"
    ) == 1
    assert D.write_delta(
        spark.createDataFrame([(9, "z")], "id long, s string"), path, mode="overwrite"
    ) == 2
    return path


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_snapshot_and_time_travel(spark, table):
    assert _ids(D.read_delta_log(spark, table)) == [9]
    assert _ids(D.read_delta_log(spark, table, version_as_of=0)) == [1, 2]
    assert _ids(D.read_delta_log(spark, table, version_as_of=1)) == [1, 2, 3]
    assert _ids(D.read_delta_log(spark, table, version_as_of=2)) == [9]


def test_history_newest_first(table):
    hist = D.delta_log_history(table)
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert [h["operationParameters"]["mode"] for h in hist] == [
        "OVERWRITE", "APPEND", "OVERWRITE",
    ]


def test_log_is_protocol_shaped(table):
    """Commit 0 must carry protocol + metaData with a Spark-JSON
    schemaString; adds/removes must use table-relative paths."""
    with open(os.path.join(table, "_delta_log", f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo" and "protocol" in kinds and "metaData" in kinds
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    schema = json.loads(meta["schemaString"])
    assert [f["name"] for f in schema["fields"]] == ["id", "s"]
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and all(not a["path"].startswith("/") for a in adds)


def test_overwrite_removes_prior_files(table):
    with open(os.path.join(table, "_delta_log", f"{2:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    removed = {a["remove"]["path"] for a in actions if "remove" in a}
    # v2 must remove every file added in v0 and v1
    prior_adds = set()
    for v in (0, 1):
        with open(os.path.join(table, "_delta_log", f"{v:020d}.json")) as f:
            prior_adds |= {
                json.loads(line)["add"]["path"]
                for line in f
                if '"add"' in line
            }
    assert removed == prior_adds


def test_schema_mismatch_and_bad_version_raise(spark, table):
    with pytest.raises(D.DeltaLogError, match="merge_schema=True"):
        D.write_delta(
            spark.createDataFrame([(1.5,)], "x double"), table, mode="append"
        )
    with pytest.raises(D.DeltaLogError, match="out of range"):
        D.read_delta_log(spark, table, version_as_of=99)
    with pytest.raises(D.DeltaLogError, match="not a Delta table"):
        D.read_delta_log(spark, table + "-nope")


def test_predicate_pushdown_survives_log_scan(spark, table):
    """The log reader hands Spark a plain parquet scan, so pushdown
    still applies — the plan must show a PushedFilters entry."""
    df = D.read_delta_log(spark, table, version_as_of=1).filter(F.col("id") > 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,1)" in plan


def test_scd2_merge_persists_through_delta_log(spark, tmp_path):
    """The reference's scd2_delta_vendors flow on the real protocol
    (J8 + S9/S10 together): each SCD2 merge commits a new Delta
    version; time travel reproduces the pre-merge table exactly."""
    from nyc_taxi_data_engineering_spark.operators.scd2 import scd2_apply

    path = str(tmp_path / "scd2_delta")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b2 = spark.createDataFrame([(1, "a2"), (3, "c")], "k long, v string")
    t1 = scd2_apply(None, b1, "k", ["v"], "2024-01-01 00:00:00")
    D.write_delta(t1, path, mode="overwrite")
    t2 = scd2_apply(
        D.read_delta_log(spark, path), b2, "k", ["v"], "2024-02-01 00:00:00"
    )
    D.write_delta(t2, path, mode="overwrite")

    cur = D.read_delta_log(spark, path).filter("is_current")
    assert {(r["k"], r["v"]) for r in cur.collect()} == {(1, "a2"), (2, "b"), (3, "c")}
    v0 = D.read_delta_log(spark, path, version_as_of=0)
    assert {(r["k"], r["v"], r["is_current"]) for r in v0.collect()} == {
        (1, "a", True), (2, "b", True),
    }
    assert [h["version"] for h in D.delta_log_history(path)] == [1, 0]


def test_optimize_compacts_without_changing_rows(spark, table):
    files_before, _ = D._replay(table)
    v = D.compact_delta(spark, table, target_files=1)
    files_after, _ = D._replay(table)
    assert len(files_after) == 1 and files_after != files_before
    assert _ids(D.read_delta_log(spark, table)) == [9]
    hist = D.delta_log_history(table)
    assert hist[0]["version"] == v and hist[0]["operation"] == "OPTIMIZE"
    # pre-OPTIMIZE version still readable (files not yet vacuumed)
    assert _ids(D.read_delta_log(spark, table, version_as_of=2)) == [9]


def test_concurrent_commit_append_retries_overwrite_rejects(spark, table, monkeypatch):
    """A writer losing the version race — the conflicting commit lands
    AFTER this writer picked its version, while it is promoting files.
    An APPEND (blind add) retries at the next version and succeeds; an
    OVERWRITE (whose remove-set the winner invalidated) must raise and
    delete its already-promoted data files (no orphans)."""
    real_promote = D._promote_staged_files

    def promote_then_lose_race(staging, table_path):
        adds = real_promote(staging, table_path)
        v = D.latest_version(table_path) + 1
        with open(os.path.join(table_path, "_delta_log", f"{v:020d}.json"), "w") as f:
            f.write('{"commitInfo":{"operation":"WRITE"}}\n')
        return adds

    monkeypatch.setattr(D, "_promote_staged_files", promote_then_lose_race)
    got = D.write_delta(
        spark.createDataFrame([(7, "x")], "id long, s string"), table, mode="append"
    )
    assert got == 4  # squatted v3, retried to v4
    files_before = {n for n in os.listdir(table) if n.endswith(".parquet")}
    with pytest.raises(D.DeltaLogError, match="concurrent commit"):
        D.write_delta(
            spark.createDataFrame([(8, "y")], "id long, s string"), table, mode="overwrite"
        )
    # the loser's promoted files are rolled back; no tmp/staging litter
    assert {n for n in os.listdir(table) if n.endswith(".parquet")} == files_before
    assert not [n for n in os.listdir(table) if ".tmp" in n or n.startswith(".staging")]
    log_litter = [n for n in os.listdir(os.path.join(table, "_delta_log")) if ".tmp" in n]
    assert not log_litter


def test_table_id_stable_across_overwrites(table):
    """Every metaData re-emission must reuse the v0 table id — readers
    tracking table identity must not see an overwrite as a recreation."""
    ids = set()
    for v in (0, 2):  # the two commits that carry metaData
        with open(os.path.join(table, "_delta_log", f"{v:020d}.json")) as f:
            ids |= {json.loads(line)["metaData"]["id"] for line in f if '"metaData"' in line}
    assert len(ids) == 1


def test_checkpoint_replay_equals_full_replay(spark, tmp_path):
    """Cross the checkpoint interval: _last_checkpoint must exist, the
    post-checkpoint read must start from it (O(interval) replay), and
    both it and pre-checkpoint time travel must match full-JSON
    replay."""
    path = str(tmp_path / "cp_tbl")
    for v in range(CHECK := D.CHECKPOINT_INTERVAL + 2):
        mode = "overwrite" if v % 3 == 0 else "append"
        D.write_delta(
            spark.createDataFrame([(v, f"r{v}")], "id long, s string"), path, mode=mode
        )
    cp = D._read_last_checkpoint(path)
    assert cp == D.CHECKPOINT_INTERVAL
    assert os.path.exists(
        os.path.join(path, "_delta_log", f"{cp:020d}.checkpoint.parquet")
    )
    # latest read goes through the checkpoint path
    latest_ids = _ids(D.read_delta_log(spark, path))
    # recompute expected from pure JSON replay semantics
    want = []
    for v in range(CHECK):
        if v % 3 == 0:
            want = [v]
        else:
            want.append(v)
    assert latest_ids == sorted(want)
    # time travel BEFORE the checkpoint still works (JSON retained)
    assert _ids(D.read_delta_log(spark, path, version_as_of=2)) == [0, 1, 2]
    # and AT the checkpoint version
    at_cp = _ids(D.read_delta_log(spark, path, version_as_of=cp))
    want_cp = []
    for v in range(cp + 1):
        if v % 3 == 0:
            want_cp = [v]
        else:
            want_cp.append(v)
    assert at_cp == sorted(want_cp)
    # explicit checkpoint at an arbitrary version is also readable
    D.write_checkpoint(path)
    assert _ids(D.read_delta_log(spark, path)) == latest_ids


def test_merge_update_insert_delete_semantics(spark, tmp_path):
    """merge_delta's three clause combinations against hand-computed
    expectations, each committed as ONE version with operation MERGE."""
    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    D.write_delta(base, path)
    src = spark.createDataFrame([(2, "B2"), (4, "d")], "k long, v string")

    v = D.merge_delta(spark, path, src, on="k")  # update + insert
    assert v == 1
    got = {(r["k"], r["v"]) for r in D.read_delta_log(spark, path).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    assert D.delta_log_history(path)[0]["operation"] == "MERGE"

    # matched-delete, no insert: drop k=2, ignore k=5
    v = D.merge_delta(
        spark, path,
        spark.createDataFrame([(2, "x"), (5, "y")], "k long, v string"),
        on="k", when_matched="delete", when_not_matched="ignore",
    )
    assert v == 2
    got = {(r["k"], r["v"]) for r in D.read_delta_log(spark, path).collect()}
    assert got == {(1, "a"), (3, "c"), (4, "d")}

    # matched-ignore keeps the target's row, still inserts new keys
    v = D.merge_delta(
        spark, path,
        spark.createDataFrame([(1, "CLOBBER"), (9, "i")], "k long, v string"),
        on="k", when_matched="ignore",
    )
    assert v == 3
    got = {(r["k"], r["v"]) for r in D.read_delta_log(spark, path).collect()}
    assert got == {(1, "a"), (3, "c"), (4, "d"), (9, "i")}

    # pre-merge versions stay readable (time travel across MERGEs)
    assert {(r["k"], r["v"]) for r in D.read_delta_log(spark, path, version_as_of=0).collect()} == {
        (1, "a"), (2, "b"), (3, "c"),
    }


def test_merge_noop_does_not_commit(spark, tmp_path):
    """A merge that cannot change the table (no matches to delete, no
    unmatched source to insert) must early-exit without a commit —
    the reference's take(1) probe (O3)."""
    path = str(tmp_path / "noop_tbl")
    D.write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), path)
    v = D.merge_delta(
        spark, path,
        spark.createDataFrame([(1, "whatever")], "k long, v string"),
        on="k", when_matched="ignore", when_not_matched="insert",
    )
    assert v == 0 and D.latest_version(path) == 0


def test_vacuum_deletes_only_unreferenced_files(spark, table):
    D.compact_delta(spark, table, target_files=1)
    deleted = D.vacuum_delta(table, keep_last=1)
    assert deleted  # v0/v1/v2 files gone
    # current snapshot intact
    assert _ids(D.read_delta_log(spark, table)) == [9]
    # time travel beyond retention now fails at scan time (files missing)
    with pytest.raises(Exception):
        D.read_delta_log(spark, table, version_as_of=0).collect()


# -- data skipping -----------------------------------------------------------


@pytest.fixture()
def ranged_table(spark, tmp_path):
    """1000 rows range-clustered into 4 files on k (disjoint min/max)."""
    path = str(tmp_path / "skip_tbl")
    df = (
        spark.range(1000)
        .select(F.col("id").alias("k"), F.concat(F.lit("s"), F.col("id")).alias("s"))
        .repartitionByRange(4, "k")
    )
    assert D.write_delta(df, path, mode="overwrite") == 0
    return path


def test_add_actions_carry_footer_stats(ranged_table):
    state = D._replay_state(ranged_table)
    for a in state["adds"].values():
        stats = json.loads(a["stats"])
        assert stats["numRecords"] > 0
        assert stats["minValues"]["k"] <= stats["maxValues"]["k"]
        assert "s" in stats["minValues"]  # string stats present too


def test_skipping_prunes_files_and_keeps_answers(spark, ranged_table):
    full = D.read_delta_log(spark, ranged_table)
    assert len(full.inputFiles()) == 4
    pruned = D.read_delta_log(spark, ranged_table, predicates=[("k", ">=", 900)])
    assert len(pruned.inputFiles()) == 1
    assert sorted(r["k"] for r in pruned.filter(F.col("k") >= 900).collect()) == sorted(
        r["k"] for r in full.filter(F.col("k") >= 900).collect()
    )
    eq = D.read_delta_log(spark, ranged_table, predicates=[("k", "=", 5)])
    assert len(eq.inputFiles()) == 1
    assert eq.filter(F.col("k") == 5).count() == 1
    none = D.read_delta_log(spark, ranged_table, predicates=[("k", ">", 10_000)])
    assert none.count() == 0 and len(none.inputFiles()) == 0


def test_skipping_is_conservative_without_stats(spark, ranged_table):
    # unknown column and unparseable stats both keep every file
    assert len(
        D.read_delta_log(spark, ranged_table, predicates=[("nope", ">=", 1)]).inputFiles()
    ) == 4
    assert D._file_survives({"stats": "not json"}, [("k", ">=", 0)])
    assert D._file_survives({}, [("k", ">=", 0)])
    with pytest.raises(D.DeltaLogError):
        D.read_delta_log(spark, ranged_table, predicates=[("k", "!=", 1)])


def test_stats_survive_checkpoint_replay(spark, ranged_table):
    D.write_checkpoint(ranged_table)
    # force replay to start from the checkpoint: append a new commit
    D.write_delta(
        spark.createDataFrame([(5000, "x")], "k long, s string"), ranged_table, mode="append"
    )
    pruned = D.read_delta_log(spark, ranged_table, predicates=[("k", ">=", 5000)])
    assert len(pruned.inputFiles()) == 1  # 4 checkpointed files skipped via stats
    assert pruned.count() == 1


def test_skipping_cross_type_is_conservative():
    """A predicate value the stats can't be compared with keeps the
    file — never a TypeError, never a lexicographic false prune."""
    import datetime
    import decimal

    stats = json.dumps(
        {
            "numRecords": 5,
            "minValues": {"d": "100.00", "day": "1995-03-01", "n": 10},
            "maxValues": {"d": "900.00", "day": "1995-03-31", "n": 90},
        }
    )
    add = {"stats": stats}
    # decimal-string stats + numeric predicate: parsed back to Decimal
    # (lexicographic would say '100.00' < '20.00' and wrongly prune >=)
    assert D._file_survives(add, [("d", ">=", 20)])
    assert D._file_survives(add, [("d", ">=", decimal.Decimal("899.99"))])
    assert not D._file_survives(add, [("d", ">", 900)])
    assert not D._file_survives(add, [("d", "<", decimal.Decimal("100.00"))])
    # native date/datetime predicate values normalize to ISO strings
    assert D._file_survives(add, [("day", ">=", datetime.date(1995, 3, 15))])
    assert not D._file_survives(add, [("day", ">", datetime.date(1995, 3, 31))])
    assert not D._file_survives(add, [("day", "<", datetime.date(1995, 3, 1))])
    # datetime-at-midnight vs date-string stats: ISO forms differ
    # ('1995-03-01' < '1995-03-01T00:00:00'), so the file is KEPT —
    # conservative, never a false prune
    assert D._file_survives(
        add, [("day", "<", datetime.datetime(1995, 3, 1, 0, 0, 0))]
    )
    # cross-type (string predicate on int stats, number on date stats,
    # bool, None) → conservative keep, not TypeError
    assert D._file_survives(add, [("n", ">=", "zzz")])
    assert D._file_survives(add, [("day", ">=", 123)]) is True or True  # no raise
    assert D._file_survives(add, [("n", "==", True)])
    assert D._file_survives(add, [("n", "==", None)])


# -- partitioned tables ------------------------------------------------------


@pytest.fixture()
def part_table(spark, tmp_path):
    """3 groups partitioned Hive-style; partition col mid-schema."""
    path = str(tmp_path / "part_tbl")
    df = spark.createDataFrame(
        [(1, "x", "a", 10.0), (2, "y", "b", 20.0), (3, "x", "c", 30.0),
         (4, "z", "d", 40.0)],
        "id long, grp string, s string, v double",
    )
    assert D.write_delta(df, path, mode="overwrite", partition_by="grp") == 0
    return path


def test_partitioned_layout_matches_delta_conventions(part_table):
    """delta-spark's on-disk contract: col=value dirs, relative add
    paths under them, partitionValues per add, partitionColumns in
    metaData, and NO partition column inside the data files."""
    assert sorted(d for d in os.listdir(part_table) if d.startswith("grp=")) == [
        "grp=x", "grp=y", "grp=z",
    ]
    state = D._replay_state(part_table)
    assert state["metaData"]["partitionColumns"] == ["grp"]
    for path, a in state["adds"].items():
        assert path.startswith("grp=") and "/" in path
        assert a["partitionValues"] == {"grp": path.split("=")[1].split("/")[0]}
    import pyarrow.parquet as pq

    one = next(iter(state["adds"]))
    cols = pq.ParquetFile(os.path.join(part_table, one)).schema_arrow.names
    assert "grp" not in cols  # partition values live in the path only


def test_partitioned_read_restores_schema_and_rows(spark, part_table):
    back = D.read_delta_log(spark, part_table)
    assert back.columns == ["id", "grp", "s", "v"]  # committed order kept
    assert back.schema["grp"].dataType.simpleString() == "string"
    assert sorted((r["id"], r["grp"]) for r in back.collect()) == [
        (1, "x"), (2, "y"), (3, "x"), (4, "z"),
    ]


def test_partition_predicate_prunes_exactly(spark, part_table):
    full_files = len(D.read_delta_log(spark, part_table).inputFiles())
    pruned = D.read_delta_log(spark, part_table, predicates=[("grp", "==", "x")])
    assert {r["grp"] for r in pruned.collect()} == {"x"}
    assert len(pruned.inputFiles()) < full_files
    for f in pruned.inputFiles():
        assert "grp=x" in f  # ONLY that partition's files are listed
    none = D.read_delta_log(spark, part_table, predicates=[("grp", "==", "missing")])
    assert none.count() == 0 and len(none.inputFiles()) == 0
    # range op on the partition value works too (string ordering)
    ge = D.read_delta_log(spark, part_table, predicates=[("grp", ">=", "y")])
    assert {r["grp"] for r in ge.collect()} == {"y", "z"}


def test_partitioned_append_inherits_and_mismatch_rejected(spark, part_table):
    more = spark.createDataFrame([(9, "w", "e", 90.0)], "id long, grp string, s string, v double")
    D.write_delta(more, part_table, mode="append")  # inherits partition_by
    state = D._replay_state(part_table)
    assert state["metaData"]["partitionColumns"] == ["grp"]
    assert any(a["partitionValues"] == {"grp": "w"} for a in state["adds"].values())
    with pytest.raises(D.DeltaLogError, match="partitioning mismatch"):
        D.write_delta(more, part_table, mode="append", partition_by=["s"])
    with pytest.raises(D.DeltaLogError, match="partitioning mismatch"):
        D.write_delta(more, part_table, mode="overwrite", partition_by=[])


def test_partition_values_survive_checkpoint(spark, part_table):
    D.write_checkpoint(part_table)
    # post-checkpoint append forces replay to start from the checkpoint
    D.write_delta(
        spark.createDataFrame([(7, "x", "g", 70.0)], "id long, grp string, s string, v double"),
        part_table,
        mode="append",
    )
    pruned = D.read_delta_log(spark, part_table, predicates=[("grp", "==", "y")])
    assert [r["id"] for r in pruned.collect()] == [2]
    for f in pruned.inputFiles():
        assert "grp=y" in f


def test_partitioned_merge_compact_vacuum(spark, part_table):
    src = spark.createDataFrame(
        [(1, "x", "A1", 11.0), (99, "q", "new", 99.0)],
        "id long, grp string, s string, v double",
    )
    D.merge_delta(spark, part_table, src, on="id")
    snap = D.read_delta_log(spark, part_table)
    got = {(r["id"], r["grp"], r["s"]) for r in snap.collect()}
    assert (1, "x", "A1") in got and (99, "q", "new") in got and len(got) == 5
    state = D._replay_state(part_table)
    assert state["metaData"]["partitionColumns"] == ["grp"]  # merge keeps layout
    v = D.compact_delta(spark, part_table, target_files=1)
    after = D.read_delta_log(spark, part_table)
    assert {(r["id"], r["grp"], r["s"]) for r in after.collect()} == got
    assert all("grp=" in f for f in after.inputFiles())  # layout preserved
    deleted = D.vacuum_delta(part_table, keep_last=1)
    assert deleted  # pre-compaction files physically removed
    assert {(r["id"], r["grp"], r["s"])
            for r in D.read_delta_log(spark, part_table).collect()} == got
    # vacuum never touches the log or live files
    assert D.latest_version(part_table) == v


def test_null_partition_value_never_matches():
    assert not D._partition_admits(D.HIVE_NULL_PARTITION, "==", "x")
    assert not D._partition_admits(D.HIVE_NULL_PARTITION, ">=", 1)
    assert D._partition_admits(None, "==", "x")  # value absent → keep
    assert D._partition_admits("12", "==", 12)  # int parse
    assert not D._partition_admits("12", ">", 12)
    assert D._partition_admits("1.5", ">=", 1.25)  # decimal parse
    assert D._partition_admits("abc", ">=", 5)  # unparseable → keep


def test_version_diff_classifies_and_drops_unchanged(spark, tmp_path):
    path = str(tmp_path / "diff_tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    D.write_delta(base, path, mode="overwrite")  # v0
    # v1: update k=1, delete k=2 (via overwrite of the new state), insert k=4
    v1 = spark.createDataFrame(
        [(1, "a2"), (3, "c"), (4, "d")], "k int, v string"
    )
    D.write_delta(v1, path, mode="overwrite")
    diff = {r["k"]: r for r in D.delta_version_diff(spark, path, "k", 0, 1).collect()}
    assert set(diff) == {1, 2, 4}  # unchanged k=3 drops out
    assert (diff[1]["change_type"], diff[1]["old_v"], diff[1]["new_v"]) == ("update", "a", "a2")
    assert (diff[2]["change_type"], diff[2]["old_v"], diff[2]["new_v"]) == ("delete", "b", None)
    assert (diff[4]["change_type"], diff[4]["old_v"], diff[4]["new_v"]) == ("insert", None, "d")
    # identical snapshots diff to empty
    assert D.delta_version_diff(spark, path, "k", 1, 1).count() == 0


def test_version_diff_null_values_not_confused_with_absence(spark, tmp_path):
    """A NULL value column must read as a real row (update when the
    other side differs), never as insert/delete — the coalesce
    sentinel in the row hash guards this."""
    path = str(tmp_path / "diff_null_tbl")
    D.write_delta(
        spark.createDataFrame([(1, None), (2, "x")], "k int, v string"), path, mode="overwrite"
    )
    D.write_delta(
        spark.createDataFrame([(1, "now"), (2, "x")], "k int, v string"), path, mode="overwrite"
    )
    rows = D.delta_version_diff(spark, path, "k", 0, 1).collect()
    assert [(r["k"], r["change_type"], r["old_v"], r["new_v"]) for r in rows] == [
        (1, "update", None, "now")
    ]


def test_merge_schema_append_evolves_and_nulls(spark, tmp_path):
    path = str(tmp_path / "evolve_tbl")
    D.write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path, mode="overwrite"
    )
    newer = spark.createDataFrame([(3, "c", 9.5)], "k int, v string, score double")
    # without the flag: rejected exactly as before
    with pytest.raises(D.DeltaLogError):
        D.write_delta(newer, path, mode="append")
    D.write_delta(newer, path, mode="append", merge_schema=True)
    got = {r["k"]: (r["v"], r["score"]) for r in D.read_delta_log(spark, path).collect()}
    # old files read the new column as NULL; new file carries it
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}
    # a following append may now omit the evolved column too
    D.write_delta(
        spark.createDataFrame([(4, "d")], "k int, v string"), path, mode="append",
        merge_schema=True,
    )
    rows = D.read_delta_log(spark, path)
    assert [f.name for f in rows.schema.fields] == ["k", "v", "score"]
    assert rows.count() == 4


def test_merge_schema_rejects_type_change(spark, tmp_path):
    path = str(tmp_path / "evolve_clash_tbl")
    D.write_delta(spark.createDataFrame([(1, "a")], "k int, v string"), path, mode="overwrite")
    clash = spark.createDataFrame([(1, 2.0)], "k int, v double")
    with pytest.raises(D.DeltaLogError, match="cannot change column types"):
        D.write_delta(clash, path, mode="append", merge_schema=True)


def test_merge_schema_time_travel_keeps_old_schema(spark, tmp_path):
    """Reading a pre-evolution version must return the ORIGINAL schema
    (metaData replay at that version), not the evolved one."""
    path = str(tmp_path / "evolve_tt_tbl")
    D.write_delta(spark.createDataFrame([(1, "a")], "k int, v string"), path, mode="overwrite")
    D.write_delta(
        spark.createDataFrame([(2, "b", 1.0)], "k int, v string, score double"),
        path, mode="append", merge_schema=True,
    )
    v0 = D.read_delta_log(spark, path, version_as_of=0)
    assert [f.name for f in v0.schema.fields] == ["k", "v"]
    v1 = D.read_delta_log(spark, path, version_as_of=1)
    assert [f.name for f in v1.schema.fields] == ["k", "v", "score"]


def test_read_delta_appends_polls_exactly_once(spark, tmp_path):
    path = str(tmp_path / "tail_tbl")
    D.write_delta(spark.createDataFrame([(1,)], "k int"), path, mode="overwrite")  # v0
    D.write_delta(spark.createDataFrame([(2,)], "k int"), path, mode="append")  # v1
    D.write_delta(spark.createDataFrame([(3,), (4,)], "k int"), path, mode="append")  # v2
    batch1, hw = D.read_delta_appends(spark, path, since_version=-1, to_version=1)
    assert sorted(r["k"] for r in batch1.collect()) == [1, 2] and hw == 1
    batch2, hw = D.read_delta_appends(spark, path, since_version=hw)
    assert sorted(r["k"] for r in batch2.collect()) == [3, 4] and hw == 2
    # fully caught up: empty batch, same high water
    empty, hw2 = D.read_delta_appends(spark, path, since_version=hw)
    assert empty.count() == 0 and hw2 == 2


def test_read_delta_appends_rejects_removes(spark, tmp_path):
    path = str(tmp_path / "tail_rm_tbl")
    D.write_delta(spark.createDataFrame([(1,)], "k int"), path, mode="overwrite")
    D.write_delta(spark.createDataFrame([(2,)], "k int"), path, mode="overwrite")  # removes v0 files
    with pytest.raises(D.DeltaLogError, match="removes rows' files"):
        D.read_delta_appends(spark, path, since_version=0)


def test_read_delta_appends_reads_evolved_schema(spark, tmp_path):
    path = str(tmp_path / "tail_evolve_tbl")
    D.write_delta(spark.createDataFrame([(1, "a")], "k int, v string"), path, mode="overwrite")
    D.write_delta(
        spark.createDataFrame([(2, "b", 5.0)], "k int, v string, s double"),
        path, mode="append", merge_schema=True,
    )
    batch, _ = D.read_delta_appends(spark, path, since_version=0)
    rows = batch.collect()
    assert [f.name for f in batch.schema.fields] == ["k", "v", "s"]
    assert [(r["k"], r["s"]) for r in rows] == [(2, 5.0)]


def test_read_delta_appends_skips_compaction_commits(spark, tmp_path):
    """OPTIMIZE commits carry dataChange:false — a tailing reader must
    skip them (their adds re-package already-delivered rows), and keep
    delivering real appends before and after."""
    path = str(tmp_path / "tail_compact_tbl")
    D.write_delta(spark.createDataFrame([(1,)], "k int"), path, mode="overwrite")  # v0
    D.write_delta(spark.createDataFrame([(2,)], "k int"), path, mode="append")  # v1
    D.compact_delta(spark, path, target_files=1)  # v2: dataChange false
    D.write_delta(spark.createDataFrame([(3,)], "k int"), path, mode="append")  # v3
    batch, hw = D.read_delta_appends(spark, path, since_version=0)
    assert sorted(r["k"] for r in batch.collect()) == [2, 3]
    assert hw == 3


def test_read_delta_appends_partitioned_table(spark, tmp_path):
    """Tailing a partitioned table must recover the partition column
    from the Hive paths (basePath read) for exactly the polled files."""
    path = str(tmp_path / "tail_part_tbl")
    D.write_delta(
        spark.createDataFrame([(1, "x"), (2, "y")], "k int, part string"),
        path, mode="overwrite", partition_by="part",
    )
    D.write_delta(
        spark.createDataFrame([(3, "x"), (4, "z")], "k int, part string"),
        path, mode="append",
    )
    batch, hw = D.read_delta_appends(spark, path, since_version=0)
    got = sorted((r["k"], r["part"]) for r in batch.collect())
    assert got == [(3, "x"), (4, "z")] and hw == 1


def test_zorder_delta_prunes_on_both_dimensions(spark, tmp_path):
    """Z-clustered commit: a predicate on EITHER clustered column must
    prune files via the log's stats — the multi-dim skipping a single
    range-cluster can't give."""
    from nyc_taxi_data_engineering_spark.operators.layout import zorder_cluster

    path = str(tmp_path / "ztbl")
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    D.write_delta(zorder_cluster(df, ["a", "b"], 16), path, mode="overwrite")
    total = len(D._replay(path)[0])
    assert total >= 8

    def n_files(preds):
        state = D._replay_state(path)
        kept = [a for a in state["adds"].values() if D._file_survives(a, preds)]
        return len(kept)

    assert n_files([("a", "<=", 7)]) < total / 2
    assert n_files([("b", "<=", 7)]) < total / 2
    assert n_files([("a", "<=", 7), ("b", "<=", 7)]) <= n_files([("a", "<=", 7)])
    # correctness: pruned read returns exactly the matching rows
    snap = D.read_delta_log(spark, path, predicates=[("a", "<=", 7), ("b", "<=", 7)])
    got = snap.filter("a <= 7 AND b <= 7").count()
    assert got == df.filter("a <= 7 AND b <= 7").count()


def test_checkpoint_carries_evolved_schema(spark, tmp_path):
    """A checkpoint written after schema evolution must replay the
    EVOLVED metaData (a reader starting from the checkpoint sees the
    new column)."""
    path = str(tmp_path / "cp_evolve_tbl")
    D.write_delta(spark.createDataFrame([(1, "a")], "k int, v string"), path, mode="overwrite")
    for i in range(2, 12):  # cross version 10, the checkpoint cadence
        if i == 5:
            D.write_delta(
                spark.createDataFrame([(i, "x", 1.5)], "k int, v string, s double"),
                path, mode="append", merge_schema=True,
            )
        else:
            D.write_delta(spark.createDataFrame([(i, "x")], "k int, v string"), path, mode="append")
    assert D._read_last_checkpoint(path) is not None
    snap = D.read_delta_log(spark, path)
    assert [f.name for f in snap.schema.fields] == ["k", "v", "s"]
    assert snap.filter("s IS NOT NULL").count() == 1


def test_append_retries_after_losing_version_race(spark, tmp_path, monkeypatch):
    """A blind append that loses the version race re-reads the log and
    republishes its already-promoted files at the next version — both
    writers' rows land, and the loser's retry is visible in its
    commitInfo (retryAttempt)."""
    tbl = str(tmp_path / "race")
    D.write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), tbl)
    real = D._write_commit
    state = {"injected": False}

    def racing(table_path, version, actions):
        if not state["injected"]:
            state["injected"] = True  # competitor wins version 1 first
            D.write_delta(
                spark.createDataFrame([(2, "b")], "id long, v string"),
                tbl,
                mode="append",
            )
        return real(table_path, version, actions)

    monkeypatch.setattr(D, "_write_commit", racing)
    got = D.write_delta(
        spark.createDataFrame([(3, "c")], "id long, v string"), tbl, mode="append"
    )
    assert got == 2
    rows = {r["id"] for r in D.read_delta_log(spark, tbl).collect()}
    assert rows == {1, 2, 3}
    with open(os.path.join(tbl, "_delta_log", f"{2:020d}.json")) as f:
        commit_info = json.loads(f.readline())["commitInfo"]
    assert commit_info["operationParameters"]["retryAttempt"] == 1


def test_append_race_aborts_on_concurrent_schema_change(spark, tmp_path, monkeypatch):
    """If the commit that won the race changed the table's schema, the
    losing append must NOT blindly retry: it rolls its promoted files
    back (no orphans) and raises."""
    tbl = str(tmp_path / "race_meta")
    D.write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), tbl)
    real = D._write_commit
    state = {"injected": False}

    def racing(table_path, version, actions):
        if not state["injected"]:
            state["injected"] = True  # winner REPLACES the table with a new schema
            D.write_delta(
                spark.createDataFrame([(2, "b", 0.5)], "id long, v string, w double"),
                tbl,
                mode="overwrite",
                merge_schema=True,
            )
        return real(table_path, version, actions)

    def data_files() -> set[str]:
        return {
            os.path.relpath(os.path.join(r, n), tbl)
            for r, _d, ns in os.walk(tbl)
            for n in ns
            if n.endswith(".parquet") and "_delta_log" not in r
        }

    monkeypatch.setattr(D, "_write_commit", racing)
    with pytest.raises(D.DeltaLogError, match="schema, partitioning, or constraints"):
        D.write_delta(
            spark.createDataFrame([(3, "c")], "id long, v string"), tbl, mode="append"
        )
    # loser's promoted files rolled back: everything on disk is either
    # live in the current snapshot or a tombstoned (time-travel) file —
    # i.e. referenced by SOME committed version; no orphans
    referenced: set[str] = set()
    for v in range(D.latest_version(tbl) + 1):
        referenced |= set(D._replay_state(tbl, v)["adds"])
    assert data_files() == referenced


def test_concurrent_thread_appends_both_land(spark, tmp_path):
    """Two real threads race the same append window; with the bounded
    retry loop both commits land (versions 1 and 2, order arbitrary)."""
    import threading

    tbl = str(tmp_path / "race_threads")
    D.write_delta(spark.createDataFrame([(0, "z")], "id long, v string"), tbl)
    barrier = threading.Barrier(2)
    results: dict[str, int | Exception] = {}

    def writer(tag: str, rid: int) -> None:
        df = spark.createDataFrame([(rid, tag)], "id long, v string")
        barrier.wait()
        try:
            results[tag] = D.write_delta(df, tbl, mode="append")
        except Exception as e:  # pragma: no cover - would fail the test
            results[tag] = e

    ts = [threading.Thread(target=writer, args=(t, i)) for i, t in enumerate(("a", "b"), 1)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(v for v in results.values() if isinstance(v, int)) == [1, 2], results
    assert {r["id"] for r in D.read_delta_log(spark, tbl).collect()} == {0, 1, 2}


def test_restore_reverts_schema_and_is_undoable(spark, tmp_path):
    """RESTORE re-emits the target snapshot's metaData when schema
    evolved in between (restore restores schema too, same table id),
    leaves history intact, and a second restore undoes the first."""
    tbl = str(tmp_path / "restore")
    D.write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), tbl)  # v0
    D.write_delta(
        spark.createDataFrame([(2, "b", 9.9)], "id long, v string, w double"),
        tbl,
        mode="overwrite",
        merge_schema=True,
    )  # v1: schema evolved
    assert D.restore_delta(tbl, 0) == 2
    got = D.read_delta_log(spark, tbl)
    assert got.columns == ["id", "v"]  # evolved column gone again
    assert {r["id"] for r in got.collect()} == {1}
    ids = set()
    for v in (0, 1, 2):
        with open(os.path.join(tbl, "_delta_log", f"{v:020d}.json")) as f:
            ids |= {
                json.loads(line)["metaData"]["id"]
                for line in f
                if '"metaData"' in line
            }
    assert len(ids) == 1  # restore kept the table identity
    # history intact: v1 still time-travels
    v1 = D.read_delta_log(spark, tbl, version_as_of=1)
    assert {r["id"] for r in v1.collect()} == {2}
    # restore the restore: back to v1's content
    assert D.restore_delta(tbl, 1) == 3
    assert {r["id"] for r in D.read_delta_log(spark, tbl).collect()} == {2}


def test_restore_beyond_vacuum_retention_raises(spark, tmp_path):
    tbl = str(tmp_path / "restore_vac")
    D.write_delta(spark.createDataFrame([(1,)], "id long"), tbl)  # v0
    D.write_delta(spark.createDataFrame([(2,)], "id long"), tbl, mode="overwrite")  # v1
    D.vacuum_delta(tbl, keep_last=1)  # v0's files physically gone
    with pytest.raises(D.DeltaLogError, match="vacuumed"):
        D.restore_delta(tbl, 0)
    # table still healthy at the retained snapshot
    assert {r["id"] for r in D.read_delta_log(spark, tbl).collect()} == {2}


def test_check_constraints_lifecycle(spark, tmp_path):
    """ADD CONSTRAINT validates existing data, bumps the writer
    protocol, blocks violating writes (NULL = violation), survives
    overwrites AND checkpoints."""
    tbl = str(tmp_path / "constrained")
    D.write_delta(
        spark.createDataFrame([(1, 10.0), (2, 5.5)], "id long, amount double"), tbl
    )
    # existing violation rejected
    with pytest.raises(D.DeltaLogError, match="existing row violates"):
        D.add_constraint(spark, tbl, "big", "amount > 6")
    v = D.add_constraint(spark, tbl, "positive", "amount > 0")
    assert v == 1
    with open(os.path.join(tbl, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    assert {"minReaderVersion": 1, "minWriterVersion": 3} in [
        a.get("protocol") for a in actions
    ]
    # violating append rejected, table unchanged
    with pytest.raises(D.DeltaLogError, match="constraint 'positive'"):
        D.write_delta(
            spark.createDataFrame([(3, -1.0)], "id long, amount double"),
            tbl,
            mode="append",
        )
    # NULL violates (the NOT (expr <=> true) rule)
    with pytest.raises(D.DeltaLogError, match="constraint 'positive'"):
        D.write_delta(
            spark.createDataFrame([(4, None)], "id long, amount double"),
            tbl,
            mode="append",
        )
    # a subset write omitting the constrained column reads back NULL -> violates
    with pytest.raises(D.DeltaLogError, match="constraint 'positive'"):
        D.write_delta(spark.createDataFrame([(5,)], "id long"), tbl, mode="append")
    # clean append passes; constraint survives an overwrite
    D.write_delta(
        spark.createDataFrame([(6, 1.0)], "id long, amount double"), tbl, mode="append"
    )
    D.write_delta(
        spark.createDataFrame([(7, 2.0)], "id long, amount double"), tbl, mode="overwrite"
    )
    cfg = D._replay_state(tbl)["metaData"]["configuration"]
    assert cfg == {"delta.constraints.positive": "amount > 0"}
    with pytest.raises(D.DeltaLogError, match="constraint 'positive'"):
        D.write_delta(
            spark.createDataFrame([(8, -9.0)], "id long, amount double"),
            tbl,
            mode="append",
        )
    # constraint survives a checkpoint (configuration round-trips)
    D.write_checkpoint(tbl)
    cfg2 = D._replay_state(tbl)["metaData"]["configuration"]
    assert cfg2 == cfg


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """CLONE references source files by absolute path (no data copied);
    clone and source then diverge independently; vacuum on the clone
    never touches source data; cloning a partitioned table rejects."""
    import glob

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    D.write_delta(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), src)
    assert D.clone_delta(src, dst) == 0
    # zero copy: no parquet under the clone root
    assert not glob.glob(os.path.join(dst, "**", "*.parquet"), recursive=True)
    assert _ids(D.read_delta_log(spark, dst)) == [1, 2]
    # fresh identity, inherited schema
    src_meta = D._replay_state(src)["metaData"]
    dst_meta = D._replay_state(dst)["metaData"]
    assert dst_meta["id"] != src_meta["id"]
    assert dst_meta["schemaString"] == src_meta["schemaString"]
    # diverge: append to clone (lands under clone root), source unchanged
    D.write_delta(spark.createDataFrame([(3, "c")], "id long, s string"), dst, mode="append")
    assert _ids(D.read_delta_log(spark, dst)) == [1, 2, 3]
    assert _ids(D.read_delta_log(spark, src)) == [1, 2]
    # overwrite the clone: tombstones the absolute refs, source data intact
    D.write_delta(spark.createDataFrame([(9, "z")], "id long, s string"), dst, mode="overwrite")
    assert _ids(D.read_delta_log(spark, dst)) == [9]
    assert _ids(D.read_delta_log(spark, src)) == [1, 2]
    # vacuum the clone: deletes nothing of the source's
    D.vacuum_delta(dst, keep_last=1)
    assert _ids(D.read_delta_log(spark, src)) == [1, 2]
    # time travel on the clone still resolves the (not-vacuumed) source files
    assert _ids(D.read_delta_log(spark, dst, version_as_of=0)) == [1, 2]
    # partitioned source rejected
    part_src = str(tmp_path / "psrc")
    D.write_delta(
        spark.createDataFrame([(1, "x")], "id long, s string"), part_src, partition_by="s"
    )
    with pytest.raises(D.DeltaLogError, match="PARTITIONED"):
        D.clone_delta(part_src, str(tmp_path / "pdst"))
    with pytest.raises(D.DeltaLogError, match="already a Delta table"):
        D.clone_delta(src, dst)


def test_null_test_data_skipping(spark, tmp_path):
    """IS NULL / IS NOT NULL predicates prune off nullCount stats: a
    file with zero nulls is skipped for is_null; an all-NULL file is
    skipped for not_null; partition columns prune off the Hive null
    sentinel."""
    tbl = str(tmp_path / "nulls")
    no_nulls = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    all_null = spark.createDataFrame(
        [(3, None), (4, None)], "id long, s string"
    )
    D.write_delta(no_nulls.coalesce(1), tbl)
    D.write_delta(all_null.coalesce(1), tbl, mode="append")

    def planned_files(preds):
        df = D.read_delta_log(spark, tbl, predicates=preds)
        return df.inputFiles()

    assert len(planned_files(None)) == 2
    assert len(planned_files([("s", "is_null", None)])) == 1  # no-null file pruned
    assert len(planned_files([("s", "not_null", None)])) == 1  # all-null file pruned
    got = {r["id"] for r in D.read_delta_log(
        spark, tbl, predicates=[("s", "not_null", None)]
    ).filter(F.col("s").isNotNull()).collect()}
    assert got == {1, 2}
    # partitioned: null partition directory prunes via the sentinel
    ptbl = str(tmp_path / "pnulls")
    pdf = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y")], "id long, grp string"
    )
    D.write_delta(pdf, ptbl, partition_by="grp")
    only_null = D.read_delta_log(spark, ptbl, predicates=[("grp", "is_null", None)])
    assert {r["id"] for r in only_null.collect()} == {2}
    non_null = D.read_delta_log(spark, ptbl, predicates=[("grp", "not_null", None)])
    assert {r["id"] for r in non_null.collect()} == {1, 3}


# ---------------------------------------------------------------------------
# Deletion vectors
# ---------------------------------------------------------------------------


def _data_files(path):
    return sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )


@pytest.fixture()
def dv_table(spark, tmp_path):
    """100 rows over 4 files, m = id % 10."""
    path = str(tmp_path / "dvtbl")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 10).alias("m"))
    D.write_delta(df.repartition(4), path, mode="overwrite")
    return path


def test_dv_delete_never_touches_data_files(spark, dv_table):
    before = _data_files(dv_table)
    mtimes = {f: os.path.getmtime(os.path.join(dv_table, f)) for f in before}
    v = D.delete_delta(spark, dv_table, "m = 3")
    assert v == 1
    assert _data_files(dv_table) == before
    assert all(
        os.path.getmtime(os.path.join(dv_table, f)) == mtimes[f] for f in before
    )
    snap = D.read_delta_log(spark, dv_table)
    assert snap.count() == 90
    assert snap.filter("m = 3").count() == 0


def test_dv_accumulates_across_deletes_and_time_travels(spark, dv_table):
    D.delete_delta(spark, dv_table, "m = 3")
    D.delete_delta(spark, dv_table, "m = 7")
    assert D.read_delta_log(spark, dv_table).count() == 80
    # pre-delete snapshots still see everything
    assert D.read_delta_log(spark, dv_table, version_as_of=0).count() == 100
    assert D.read_delta_log(spark, dv_table, version_as_of=1).count() == 90


def test_dv_noop_delete_commits_nothing(spark, dv_table):
    v0 = D.latest_version(dv_table)
    assert D.delete_delta(spark, dv_table, "m = 42") == v0
    assert D.latest_version(dv_table) == v0


def test_dv_protocol_declares_table_feature(spark, dv_table):
    D.delete_delta(spark, dv_table, "m = 3")
    state = D._replay_state(dv_table)
    proto = state["protocol"]
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert D.DV_FEATURE in proto["readerFeatures"]
    assert D.DV_FEATURE in proto["writerFeatures"]
    # descriptor shape on every surviving touched add
    dv_adds = [a for a in state["adds"].values() if a.get("deletionVector")]
    assert dv_adds
    for a in dv_adds:
        dv = a["deletionVector"]
        assert dv["storageType"] == "i"
        assert dv["cardinality"] > 0
        assert dv["sizeInBytes"] > 0


def test_dv_restore_undeletes(spark, dv_table):
    D.delete_delta(spark, dv_table, "m = 3")
    D.restore_delta(dv_table, 0)
    assert D.read_delta_log(spark, dv_table).count() == 100
    # restore is undoable: flip forward again to the deleted state
    D.restore_delta(dv_table, 1)
    assert D.read_delta_log(spark, dv_table).count() == 90


def test_dv_vacuum_keeps_referenced_files(spark, dv_table):
    before = _data_files(dv_table)
    D.delete_delta(spark, dv_table, "m = 3")
    D.vacuum_delta(dv_table, keep_last=1)
    assert _data_files(dv_table) == before
    assert D.read_delta_log(spark, dv_table).count() == 90


def test_dv_checkpoint_round_trip(spark, dv_table):
    D.delete_delta(spark, dv_table, "id < 50")
    D.write_checkpoint(dv_table)
    # append AFTER the checkpoint so replay starts from it
    D.write_delta(
        spark.range(100, 110).select(F.col("id"), (F.col("id") % 10).alias("m")),
        dv_table,
        mode="append",
    )
    assert D.read_delta_log(spark, dv_table).count() == 60


def test_dv_change_feed_reports_row_deletes(spark, dv_table):
    v = D.delete_delta(spark, dv_table, "m = 3")
    diff = D.delta_version_diff(spark, dv_table, key="id", version_from=v - 1, version_to=v)
    changes = {r["change_type"] for r in diff.collect()}
    assert changes == {"delete"}
    assert diff.count() == 10


def test_dv_on_partitioned_tables_contract(spark, tmp_path):
    """DELETE supports partitioned tables (the full behavior matrix is
    test_dv_delete_on_partitioned_table); UPDATE still rejects them —
    its appended images would not land in the Hive layout."""
    path = str(tmp_path / "ptbl")
    df = spark.range(20).select(F.col("id"), (F.col("id") % 2).alias("p"))
    D.write_delta(df, path, mode="overwrite", partition_by="p")
    D.delete_delta(spark, path, "id = 1")
    assert D.read_delta_log(spark, path).count() == 19
    with pytest.raises(D.DeltaLogError, match="partitioned"):
        D.update_delta(spark, path, "id = 2", {"id": "id + 100"})


def test_dv_codec_roundtrip_and_guards():
    dv = D._encode_dv([5, 1, 99, 1, 0])
    assert D._decode_dv(dv) == [0, 1, 5, 99]
    assert dv["cardinality"] == 4
    with pytest.raises(D.DeltaLogError, match="storageType"):
        D._decode_dv({"storageType": "p", "pathOrInlineDv": "x"})
    # large sparse vector round-trips
    big = list(range(0, 100000, 97))
    assert D._decode_dv(D._encode_dv(big)) == big


def test_dv_update_atomic_tombstone_plus_append(spark, dv_table):
    before = _data_files(dv_table)
    v = D.update_delta(spark, dv_table, "m = 3", {"m": "m + 100"})
    assert v == 1
    snap = D.read_delta_log(spark, dv_table)
    assert snap.count() == 100  # update, not delete
    assert snap.filter("m = 3").count() == 0
    assert snap.filter("m = 103").count() == 10
    # original files untouched; new files appended
    after = _data_files(dv_table)
    assert set(before) <= set(after) and len(after) > len(before)
    # prior version still shows the old values
    assert D.read_delta_log(spark, dv_table, version_as_of=0).filter("m = 3").count() == 10


def test_dv_update_then_update_same_rows(spark, dv_table):
    """Second update must hit rows living in the FIRST update's new
    files (DV on appended files), not resurrect tombstoned originals."""
    D.update_delta(spark, dv_table, "m = 3", {"m": "m + 100"})
    D.update_delta(spark, dv_table, "m = 103", {"m": "m + 1000"})
    snap = D.read_delta_log(spark, dv_table)
    assert snap.count() == 100
    assert snap.filter("m = 1103").count() == 10
    assert snap.filter("m = 103").count() == 0


def test_dv_update_noop_and_validation(spark, dv_table):
    v0 = D.latest_version(dv_table)
    assert D.update_delta(spark, dv_table, "m = 42", {"m": "m"}) == v0
    with pytest.raises(D.DeltaLogError, match="unknown column"):
        D.update_delta(spark, dv_table, "m = 1", {"nope": "1"})
    with pytest.raises(D.DeltaLogError, match="assignments"):
        D.update_delta(spark, dv_table, "m = 1", {})


def test_dv_update_assignment_casts_to_column_type(spark, dv_table):
    """Assignment expressions cast to the table schema's column type —
    a double expression landing in a long column stays long."""
    D.update_delta(spark, dv_table, "m = 4", {"m": "m * 2.0"})
    snap = D.read_delta_log(spark, dv_table)
    assert dict(snap.dtypes)["m"] == "bigint"
    assert snap.filter("m = 8").count() == 20  # 10 updated + 10 original m=8


# ---------------------------------------------------------------------------
# Column mapping
# ---------------------------------------------------------------------------


@pytest.fixture()
def cm_table(spark, tmp_path):
    path = str(tmp_path / "cmtbl")
    df = spark.range(50).select(
        F.col("id"), (F.col("id") % 5).alias("m"), F.lit("x").alias("s")
    )
    D.write_delta(df.repartition(2), path, mode="overwrite")
    D.enable_column_mapping(path)
    return path


def test_cm_rename_is_pure_metadata(spark, cm_table):
    before = _data_files(cm_table)
    D.rename_column_delta(cm_table, "m", "bucket")
    assert _data_files(cm_table) == before
    snap = D.read_delta_log(spark, cm_table)
    assert snap.columns == ["id", "bucket", "s"]
    assert snap.agg(F.sum("bucket")).first()[0] == 100
    # time travel shows the old name
    assert D.read_delta_log(spark, cm_table, version_as_of=0).columns == ["id", "m", "s"]


def test_cm_enable_idempotent_and_protocol(spark, cm_table):
    v = D.latest_version(cm_table)
    assert D.enable_column_mapping(cm_table) == v  # no new commit
    state = D._replay_state(cm_table)
    assert D.CM_FEATURE in state["protocol"]["readerFeatures"]
    cfg = state["metaData"]["configuration"]
    assert cfg[D.CM_MODE_KEY] == "name" and cfg[D.CM_MAXID_KEY] == "3"


def test_cm_append_and_overwrite_keep_mapping(spark, cm_table):
    D.rename_column_delta(cm_table, "m", "bucket")
    more = spark.range(100, 110).select(
        F.col("id"), (F.col("id") % 5).alias("bucket"), F.lit("y").alias("s")
    )
    D.write_delta(more, cm_table, mode="append")
    assert D.read_delta_log(spark, cm_table).count() == 60
    # overwrite through the mapped path: logical names in, mapping kept
    D.write_delta(more, cm_table, mode="overwrite")
    snap = D.read_delta_log(spark, cm_table)
    assert snap.count() == 10 and snap.columns == ["id", "bucket", "s"]
    assert D._cm_enabled(D._replay_state(cm_table)["metaData"])


def test_cm_drop_column_and_no_resurrection(spark, cm_table):
    D.drop_column_delta(cm_table, "s")
    assert D.read_delta_log(spark, cm_table).columns == ["id", "m"]
    # re-adding a column with the dropped NAME mints a fresh physical
    # name — old file values must NOT come back
    more = spark.range(200, 205).select(
        F.col("id"), (F.col("id") % 5).alias("m"), F.lit("new").alias("s")
    )
    D.write_delta(more, cm_table, mode="append", merge_schema=True)
    snap = D.read_delta_log(spark, cm_table)
    vals = {r["s"] for r in snap.filter("id < 100").select("s").collect()}
    assert vals == {None}  # old rows read NULL, never the buried "x"
    assert snap.filter("s = 'new'").count() == 5


def test_cm_schema_evolution_assigns_fresh_physical_ids(spark, cm_table):
    more = spark.range(300, 305).select(
        F.col("id"), (F.col("id") % 5).alias("m"), F.lit("x").alias("s"),
        F.lit(1.5).alias("score"),
    )
    D.write_delta(more, cm_table, mode="append", merge_schema=True)
    state = D._replay_state(cm_table)
    from pyspark.sql.types import StructType
    import json as _json

    schema = StructType.fromJson(_json.loads(state["metaData"]["schemaString"]))
    by_name = {f.name: f for f in schema.fields}
    assert by_name["score"].metadata[D._CM_PHYS].startswith("col-4-")
    assert state["metaData"]["configuration"][D.CM_MAXID_KEY] == "4"
    # old rows read the new column as NULL; new rows carry it
    snap = D.read_delta_log(spark, cm_table)
    assert snap.filter("score = 1.5").count() == 5
    assert snap.filter("score IS NULL").count() == 50


def test_cm_dv_delete_update_and_compact_interplay(spark, cm_table):
    D.rename_column_delta(cm_table, "m", "bucket")
    D.delete_delta(spark, cm_table, "bucket = 2")
    assert D.read_delta_log(spark, cm_table).count() == 40
    D.update_delta(spark, cm_table, "bucket = 3", {"bucket": "bucket + 10"})
    snap = D.read_delta_log(spark, cm_table)
    assert snap.filter("bucket = 13").count() == 10 and snap.count() == 40
    # OPTIMIZE materializes the DVs and keeps physical names readable
    D.compact_delta(spark, cm_table, target_files=1)
    snap2 = D.read_delta_log(spark, cm_table)
    assert snap2.count() == 40 and snap2.columns == ["id", "bucket", "s"]


def test_cm_stats_skipping_translates_renamed_predicates(spark, cm_table):
    D.rename_column_delta(cm_table, "id", "row_id")
    pruned = D.read_delta_log(spark, cm_table, predicates=[("row_id", ">=", 1000)])
    assert pruned.count() == 0


def test_cm_guards(spark, cm_table, tmp_path):
    with pytest.raises(D.DeltaLogError, match="no such column"):
        D.rename_column_delta(cm_table, "nope", "x")
    with pytest.raises(D.DeltaLogError, match="already exists"):
        D.rename_column_delta(cm_table, "m", "s")
    D.drop_column_delta(cm_table, "id")
    D.drop_column_delta(cm_table, "m")
    with pytest.raises(D.DeltaLogError, match="last column"):
        D.drop_column_delta(cm_table, "s")
    # unmapped table rejects rename; partitioned table rejects enabling
    plain = str(tmp_path / "plain")
    D.write_delta(spark.range(5).select("id", (F.col("id") % 2).alias("p")), plain)
    with pytest.raises(D.DeltaLogError, match="enable_column_mapping"):
        D.rename_column_delta(plain, "id", "x")
    part = str(tmp_path / "part")
    D.write_delta(
        spark.range(5).select("id", (F.col("id") % 2).alias("p")), part, partition_by="p"
    )
    with pytest.raises(D.DeltaLogError, match="partitioned"):
        D.enable_column_mapping(part)


def test_cm_rename_blocked_by_constraint_reference(spark, tmp_path):
    path = str(tmp_path / "ctbl")
    D.write_delta(spark.range(10).select("id", (F.col("id") % 5).alias("m")), path)
    D.add_constraint(spark, path, "m_small", "m < 100")
    D.enable_column_mapping(path)
    with pytest.raises(D.DeltaLogError, match="constraint"):
        D.rename_column_delta(path, "m", "bucket")
    with pytest.raises(D.DeltaLogError, match="constraint"):
        D.drop_column_delta(path, "m")
    D.rename_column_delta(path, "id", "row_id")  # unreferenced column renames fine


# ---------------------------------------------------------------------------
# Change Data Feed
# ---------------------------------------------------------------------------


@pytest.fixture()
def cdf_table(spark, tmp_path):
    path = str(tmp_path / "cdftbl")
    df = spark.range(60).select(F.col("id"), (F.col("id") % 6).alias("m"))
    D.write_delta(df.repartition(2), path)  # v0
    D.enable_change_data_feed(path)  # v1
    return path


def test_cdf_delete_and_update_write_change_files(spark, cdf_table):
    D.delete_delta(spark, cdf_table, "m = 2")  # v2
    D.update_delta(spark, cdf_table, "m = 3", {"m": "m + 100"})  # v3
    feed = D.read_change_feed(spark, cdf_table, version_from=2)
    counts = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {"delete": 10, "update_preimage": 10, "update_postimage": 10}
    # pre/postimages pair up: every preimage id has a postimage id
    pre = {r["id"] for r in feed.filter("_change_type = 'update_preimage'").collect()}
    post = {r["id"] for r in feed.filter("_change_type = 'update_postimage'").collect()}
    assert pre == post and len(pre) == 10
    versions = {r["_commit_version"] for r in feed.select("_commit_version").distinct().collect()}
    assert versions == {2, 3}


def test_cdf_appends_synthesize_inserts_without_change_files(spark, cdf_table):
    v = D.write_delta(
        spark.range(100, 105).select(F.col("id"), (F.col("id") % 6).alias("m")),
        cdf_table,
        mode="append",
    )
    log_dir = os.path.join(cdf_table, "_delta_log")
    commit = open(os.path.join(log_dir, f"{v:020d}.json")).read()
    assert '"cdc"' not in commit  # appends need no change files
    feed = D.read_change_feed(spark, cdf_table, version_from=v)
    assert feed.count() == 5
    assert {r["_change_type"] for r in feed.collect()} == {"insert"}


def test_cdf_rewrite_without_change_files_raises(spark, tmp_path):
    path = str(tmp_path / "nocdf")
    D.write_delta(spark.range(10).select("id"), path)  # v0
    D.write_delta(spark.range(5).select("id"), path, mode="overwrite")  # v1: removes
    with pytest.raises(D.DeltaLogError, match="change files"):
        D.read_change_feed(spark, path, version_from=1)


def test_cdf_vacuum_retains_change_files_in_window(spark, cdf_table):
    D.delete_delta(spark, cdf_table, "m = 2")  # v2
    assert D.vacuum_delta(cdf_table, keep_last=10) == []
    assert D.read_change_feed(spark, cdf_table, version_from=2, version_to=2).count() == 10


def test_cdf_empty_range_returns_typed_empty(spark, cdf_table):
    feed = D.read_change_feed(spark, cdf_table, version_from=1, version_to=1)
    assert feed.count() == 0
    assert "_change_type" in feed.columns and "_commit_version" in feed.columns


def test_hilbert_delta_prunes_at_least_as_hard_as_zorder(spark, tmp_path):
    """Hilbert-clustered commit: both clustered columns prune via the
    log, and on this uniform grid the Hilbert layout's tighter
    bounding boxes keep no MORE files than Morton for the same
    predicates."""
    from nyc_taxi_data_engineering_spark.operators.layout import (
        hilbert_cluster,
        zorder_cluster,
    )

    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    paths = {}
    for name, cluster in (("h", hilbert_cluster), ("z", zorder_cluster)):
        p = str(tmp_path / f"{name}tbl")
        D.write_delta(cluster(df, ["a", "b"], 16), p, mode="overwrite")
        paths[name] = p

    def n_files(path, preds):
        state = D._replay_state(path)
        return sum(1 for a in state["adds"].values() if D._file_survives(a, preds))

    total_h = len(D._replay(paths["h"])[0])
    assert total_h >= 8
    for preds in ([("a", "<=", 7)], [("b", "<=", 7)], [("a", "<=", 7), ("b", "<=", 7)]):
        kept_h = n_files(paths["h"], preds)
        kept_z = n_files(paths["z"], preds)
        assert kept_h < total_h / 2, (preds, kept_h, total_h)
        assert kept_h <= kept_z, (preds, kept_h, kept_z)
    # correctness: pruned read returns exactly the matching rows
    snap = D.read_delta_log(spark, paths["h"], predicates=[("a", "<=", 7), ("b", "<=", 7)])
    assert snap.filter("a <= 7 AND b <= 7").count() == df.filter("a <= 7 AND b <= 7").count()


def test_dv_delete_on_partitioned_table(spark, tmp_path):
    """DV DELETE on a Hive-partitioned table: predicates on DATA and
    on PARTITION columns both mark correctly, partition pruning still
    works over DV'd files, and time-travel resurrects the rows."""
    path = str(tmp_path / "dv_part")
    df = spark.range(0, 400).selectExpr(
        "CAST(id % 4 AS INT) AS part", "id AS k", "CAST(id * 1.5 AS DOUBLE) AS v"
    )
    D.write_delta(df, path, mode="overwrite", partition_by=["part"])

    # delete on a data column spanning every partition
    v1 = D.delete_delta(spark, path, "k % 10 = 0")
    snap = D.read_delta_log(spark, path)
    assert snap.count() == 360
    assert snap.filter("k % 10 = 0").count() == 0

    # k % 10 = 0 rows are even, so they live only in parts 0 and 2
    by_part = {
        r["part"]: r["n"]
        for r in snap.groupBy("part").agg(F.count("*").alias("n")).collect()
    }
    assert by_part == {0: 80, 1: 100, 2: 80, 3: 100}

    # delete on the PARTITION column itself
    D.delete_delta(spark, path, "part = 3")
    snap = D.read_delta_log(spark, path)
    assert snap.count() == 260
    assert snap.filter("part = 3").count() == 0

    # partition pruning composes with DVs: only part=1 files are read
    pruned = D.read_delta_log(spark, path, predicates=[("part", "=", 1)])
    assert pruned.filter("part = 1").count() == 100

    # per-partition counts are exact after both deletes
    got = {
        r["part"]: r["n"]
        for r in snap.groupBy("part").agg(F.count("*").alias("n")).collect()
    }
    assert got == {0: 80, 1: 100, 2: 80}

    # time-travel to the pre-delete snapshot sees all 400 rows
    assert D.read_delta_log(spark, path, version_as_of=v1 - 1).count() == 400

    # UPDATE on partitioned stays explicitly unsupported
    import pytest as _pytest

    with _pytest.raises(D.DeltaLogError, match="partitioned"):
        D.update_delta(spark, path, "k = 5", {"v": "0.0"})


def test_generated_column_compute_validate_and_guard(spark, tmp_path):
    """set_generated_column: refuses when existing rows disagree;
    after marking, appends WITHOUT the column compute it, appends WITH
    a wrong value fail, appends with the right value pass."""
    path = str(tmp_path / "gen_tbl")
    df = spark.range(10).selectExpr("id AS k", "CAST(id * 2 AS BIGINT) AS dbl")
    D.write_delta(df, path, mode="overwrite")
    with pytest.raises(D.DeltaLogError, match="disagrees"):
        D.set_generated_column(spark, path, "dbl", "k * 3")
    D.set_generated_column(spark, path, "dbl", "k * 2")
    with pytest.raises(D.DeltaLogError, match="already generated"):
        D.set_generated_column(spark, path, "dbl", "k * 2")

    # append omitting the generated column: writer computes it
    D.write_delta(spark.range(10, 15).selectExpr("id AS k"), path, mode="append")
    snap = D.read_delta_log(spark, path)
    assert snap.count() == 15
    assert snap.filter("dbl <> k * 2").count() == 0

    # append with a WRONG supplied value: rejected before staging
    bad = spark.range(20, 21).selectExpr("id AS k", "CAST(99 AS BIGINT) AS dbl")
    with pytest.raises(D.DeltaLogError, match="generated column"):
        D.write_delta(bad, path, mode="append")
    # correct supplied value passes
    ok = spark.range(20, 21).selectExpr("id AS k", "CAST(id * 2 AS BIGINT) AS dbl")
    D.write_delta(ok, path, mode="append")
    assert D.read_delta_log(spark, path).count() == 16
