from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.enrich import DimSpec, enrich_with_dims
from nyc_taxi_data_engineering_spark.operators.mdm import (
    candidate_pairs,
    score_pairs,
    token_sort_ratio,
)


def test_token_sort_ratio_known_values(spark):
    cases = [
        ("new york mets", "new york mets", 100),  # identical
        ("new york mets", "mets new york", 100),  # token order invariant
        ("", "", 0),  # both empty -> 0 by convention
        ("abcd", "", 0),  # one empty
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in cases], "a string, b string")
    got = [r["s"] for r in df.select(token_sort_ratio("a", "b").alias("s")).collect()]
    assert got == [e for _, _, e in cases]


def test_score_pairs_buckets(spark):
    records = spark.createDataFrame(
        [
            (1, "Acme Corp", "1 Main St", "b1"),
            (2, "Acme Corp", "1 Main St", "b1"),  # exact dup -> AUTO_MERGE
            (3, "Zeta Dynamics Inc", "9 Side St", "b2"),
            (4, "Completely Other", "9 Side St", "b2"),  # addr same, name far
        ],
        "vendor_id int, vendor_name string, vendor_address string, block string",
    )
    pairs = candidate_pairs(records, "vendor_id", ["block"], ["vendor_name", "vendor_address"])
    assert pairs.count() == 2  # only intra-block, a<b
    scored = {(r["a_vendor_id"], r["b_vendor_id"]): r for r in
              score_pairs(pairs, "vendor_id", "vendor_name", "vendor_address").collect()}
    assert scored[(1, 2)]["match_score"] == 100.0
    assert scored[(1, 2)]["action"] == "AUTO_MERGE"
    assert scored[(3, 4)]["confidence"] == "LOW"
    assert scored[(3, 4)]["action"] == "NO_ACTION"


def test_enrich_and_null_audit(spark):
    fact = spark.createDataFrame([(1, 10), (2, 20), (3, 99)], "id int, zone_id int")
    dim = spark.createDataFrame(
        [(10, "Manhattan"), (20, "Brooklyn")], "locationid int, borough string"
    )
    spec = DimSpec(dim=dim, fact_key="zone_id", dim_key="locationid",
                   prefix="pu", carry=("borough",))
    enriched = enrich_with_dims(fact, [spec])
    vals = {r["id"]: r["pu_borough"] for r in enriched.collect()}
    assert vals == {1: "Manhattan", 2: "Brooklyn", 3: None}
    # the unmatched fact row is kept, null-enriched: a null audit sees it
    assert enriched.filter(F.col("pu_borough").isNull()).count() == 1


def test_candidate_pairs_hot_block_guard(spark):
    """A hot block must not explode into n^2 pairs on one task: blocks
    above max_block_size are excluded from pairing."""
    rows = [(i, f"Vendor {i}", f"{i} Main St", "megacity") for i in range(50)]
    rows += [(100, "Acme", "1 Elm St", "smalltown"), (101, "Acme", "1 Elm St", "smalltown")]
    records = spark.createDataFrame(
        rows, "vendor_id int, vendor_name string, vendor_address string, block string"
    )
    guarded = candidate_pairs(
        records, "vendor_id", ["block"], ["vendor_name"], max_block_size=10
    )
    got = [(r["a_vendor_id"], r["b_vendor_id"]) for r in guarded.collect()]
    assert got == [(100, 101)]  # hot block contributed nothing
    # a cap at the hot block's size keeps its quadratic blow-up (50*49/2 + 1)
    assert candidate_pairs(
        records, "vendor_id", ["block"], ["vendor_name"], max_block_size=50
    ).count() == 1226


def test_snm_recall_tradeoff(spark, sf_dir):
    """Sorted-neighborhood must catch BOTH exact-name dups and the
    ' ltd' near-key dups (they sort adjacent), while the full renames
    ('Totally Different Co') stay uncaught — the documented trade-off
    vs equality blocking."""
    from nyc_taxi_data_engineering_spark.queries.mdm import q_mdm_snm_candidate_pairs

    rows = q_mdm_snm_candidate_pairs(spark, sf_dir).collect()
    pairs = {(r["a_vendor_id"], r["b_vendor_id"]) for r in rows}
    keys = [
        r["s_suppkey"]
        for r in spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey").collect()
    ]
    # clone offset = smallest power of 10 above max(key), mirroring
    # queries.mdm._vendors (data-derived since the sf1-tier fix)
    off = 10 ** len(str(max(keys)))
    # exact dup (k%10==0): base k and clone k+off share the name -> adjacent
    exact = [(k, k + off) for k in keys if k % 10 == 0]
    assert all(p in pairs for p in exact), "exact-name dups must be caught"
    # near-key dup (k%10==3): 'name' vs 'name ltd' sort adjacent
    near = [(k, k + off) for k in keys if k % 10 == 3]
    assert all(p in pairs for p in near), "' ltd' dups must be caught"
    # full renames (k%10==7) sort far away: SNM misses them
    renamed = [(k, k + off) for k in keys if k % 10 == 7]
    assert not any(p in pairs for p in renamed), "renames are out of reach by design"
    # same_name marks exactly the exact-name pairs among the planted dups
    same = {(r["a_vendor_id"], r["b_vendor_id"]) for r in rows if r["same_name"] == 1}
    assert all(p in same for p in exact)
    assert not any(p in same for p in near)
