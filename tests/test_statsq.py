"""Semantic invariants for the experiment-analysis family (statsq) and
ML-prep queries — the oracle gate proves cross-engine equality; these
prove the STATISTICS mean what they claim."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.queries import run


def test_bootstrap_ci_brackets_estimate_and_is_ordered(spark, sf_dir):
    row, _ = run(spark, "revenue_bootstrap_ci", sf_dir, lambda df: df.first())
    assert row["ci_lo"] <= row["ci_hi"]
    # half-sample estimates straddle the truth for a sum statistic
    assert row["ci_lo"] <= row["estimate"] * 1.15
    assert row["ci_hi"] >= row["estimate"] * 0.85
    assert row["n_resamples"] == 32


def test_kaplan_meier_log_survival_monotone_nonincreasing(spark, sf_dir):
    rows, _ = run(
        spark, "kaplan_meier_customers", sf_dir, lambda df: df.orderBy("duration_days").collect()
    )
    assert rows, "KM curve should be non-empty"
    ls = [r["log_survival"] for r in rows]
    assert all(a >= b for a, b in zip(ls, ls[1:]))  # survival only decreases
    assert all(r["n_events"] >= 1 for r in rows)
    # at-risk counts shrink over time
    n = [r["n_at_risk"] for r in rows]
    assert all(a >= b for a, b in zip(n, n[1:]))


def test_ab_test_moments_match_naive_computation(spark, sf_dir):
    row, _ = run(spark, "ab_test_events", sf_dir, lambda df: df.first())
    from nyc_taxi_data_engineering_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").toPandas()
    t = ev[ev.user_id % 2 == 1].value
    c = ev[ev.user_id % 2 == 0].value
    assert row["n_treat"] == len(t) and row["n_ctrl"] == len(c)
    assert abs(row["mean_treat"] - t.mean()) < 1e-6
    assert abs(row["mean_ctrl"] - c.mean()) < 1e-6
    import math

    se = math.sqrt(t.var(ddof=1) / len(t) + c.var(ddof=1) / len(c))
    assert abs(row["z_stat"] - (t.mean() - c.mean()) / se) < 1e-6


def test_cuped_theta_matches_covariance_ratio(spark, sf_dir):
    row, _ = run(spark, "cuped_adjusted_ab", sf_dir, lambda df: df.first())
    from nyc_taxi_data_engineering_spark.catalog import load_table
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").toPandas()
    pre = ev[ev.ts < pd.Timestamp("2024-01-16")].groupby("user_id").value.sum()
    post = ev[ev.ts >= pd.Timestamp("2024-01-16")].groupby("user_id").value.sum()
    users = ev.user_id.unique()
    x = pre.reindex(users).fillna(0.0)
    y = post.reindex(users).fillna(0.0)
    theta = x.cov(y) / x.var()
    assert abs(row["theta"] - theta) < 1e-4


def test_gini_split_best_threshold_separates_labels(spark, sf_dir):
    rows, _ = run(spark, "gini_split_search_orders", sf_dir, lambda df: df.collect())
    # the parent impurity bounds every weighted split impurity from above
    n_pos = sum(r["pos_left"] + r["pos_right"] for r in rows[:1])
    n_tot = sum(r["n_left"] + r["n_right"] for r in rows[:1])
    p = n_pos / n_tot
    parent = 1.0 - p * p - (1.0 - p) * (1.0 - p)
    assert all(r["weighted_gini"] <= parent + 1e-12 for r in rows)


def test_assoc_rules_metric_ranges(spark, sf_dir):
    rows, _ = run(spark, "assoc_rules_suppliers", sf_dir, lambda df: df.collect())
    assert rows
    for r in rows:
        assert 0.0 < r["support"] <= 1.0
        assert 0.0 < r["confidence"] <= 1.0
        assert r["lift"] > 0.0
        assert r["antecedent"] != r["consequent"]


def test_nb_confusion_covers_every_test_doc_once(spark, sf_dir):
    from nyc_taxi_data_engineering_spark.catalog import load_table

    n_pred, _ = run(
        spark, "nb_lang_confusion", sf_dir, lambda cm: cm.agg(F.sum("n_docs")).first()[0]
    )
    docs = load_table(spark, sf_dir, "documents")
    n_test = docs.filter(F.col("doc_id") % 3 == 0).count()
    assert n_pred == n_test  # argmax assigns exactly one class per doc


def test_shapley_efficiency_axiom(spark, sf_dir):
    """Sum of Shapley values must equal v(full) - v(empty): the
    conversion rate of all journeys minus the rate of journeys that
    converted with no channel exposure at all."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.queries.shapleyq import (
        q_shapley_attribution_events,
    )

    rows = q_shapley_attribution_events(spark, sf_dir).collect()
    assert [r["channel"] for r in rows] == ["click", "error", "signup", "view"]
    total_phi = sum(r["shapley_value"] for r in rows)
    shares = sum(r["attribution_share"] for r in rows)
    assert abs(shares - 1.0) < 1e-12

    # recompute v(full) and v(empty) directly from events
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.struct("ts", "event_id"))
            ).alias("first_p"),
            F.min(F.struct("ts", "event_id")).alias("first_e"),
        )
    )
    n = per_user.count()
    v_full = per_user.filter("conv = 1").count() / n
    # v(empty): converted journeys whose FIRST event is the purchase
    v_empty = per_user.filter("conv = 1 AND first_p = first_e").count() / n
    assert abs(total_phi - (v_full - v_empty)) < 1e-9


def test_adaboost_recovers_planted_majority(spark, sf_dir):
    """The 3 rounds must pick the 3 DIFFERENT planted features (the
    2-of-3 majority is unrepresentable by any single stump), every
    weighted error stays < 0.5 (weak-learner condition), and ensemble
    accuracy approaches the 5%-label-flip noise ceiling."""
    from nyc_taxi_data_engineering_spark.queries.boostq import (
        q_adaboost_eval_orders,
        q_adaboost_stumps_orders,
    )

    trace = q_adaboost_stumps_orders(spark, sf_dir).collect()
    assert [r["round"] for r in trace] == [1, 2, 3]
    assert all(0.0 < r["epsilon"] < 0.5 for r in trace)
    assert all(r["odds_factor"] > 1.0 for r in trace)
    families = {r["stump"].split(":")[0].split("<")[0] for r in trace}
    assert len(families) == 3  # one stump per planted feature family

    ev = q_adaboost_eval_orders(spark, sf_dir).collect()[0]
    assert ev["accuracy"] >= 0.9
    assert ev["tp"] + ev["fp"] + ev["fn"] + ev["tn"] > 0


def test_eb_shrinkage_monotone_in_evidence(spark, sf_dir):
    """Shrinkage must pull every raw rate TOWARD the prior mean, and
    pull harder when the customer has fewer orders: |shrunk - mu| grows
    with n for customers at the same raw rate."""
    from nyc_taxi_data_engineering_spark.queries.statsq import q_eb_shrunk_urgent_rates

    rows = q_eb_shrunk_urgent_rates(spark, sf_dir).collect()
    assert rows
    alpha, beta = rows[0]["alpha"], rows[0]["beta"]
    assert alpha > 0 and beta > 0
    mu = alpha / (alpha + beta)
    for r in rows:
        lo, hi = sorted((r["raw_rate"], mu))
        assert lo - 1e-12 <= r["shrunk_rate"] <= hi + 1e-12  # between raw and prior
    # zero-order evidence would land exactly on the prior: check the
    # weakest-evidence customer sits closest to mu among same-raw-rate peers
    from collections import defaultdict

    by_rate = defaultdict(list)
    for r in rows:
        by_rate[round(r["raw_rate"], 9)].append(r)
    checked = 0
    for grp in by_rate.values():
        if len(grp) < 2:
            continue
        grp = sorted(grp, key=lambda r: r["n"])
        dist = [abs(r["shrunk_rate"] - mu) for r in grp]
        assert all(a <= b + 1e-12 for a, b in zip(dist, dist[1:]))
        checked += 1
    assert checked > 0


def test_spearman_matches_direct_computation(spark, sf_dir):
    """rho from the 2x-midrank transport must equal scipy-free direct
    Spearman (Pearson on pandas average ranks) and sit in [-1, 1];
    quantity and extendedprice are positively related by construction."""
    from nyc_taxi_data_engineering_spark.queries.statsq import q_spearman_quantity_price

    row = q_spearman_quantity_price(spark, sf_dir).collect()[0]
    import pandas as pd

    pdf = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_quantity", "l_extendedprice"])
    rx = pdf["l_quantity"].rank(method="average")
    ry = pdf["l_extendedprice"].rank(method="average")
    expected = rx.corr(ry)  # Pearson on midranks == Spearman
    assert row["n"] == len(pdf)
    assert abs(row["rho_spearman"] - expected) < 1e-9
    assert -1.0 <= row["rho_spearman"] <= 1.0
    # the synthetic generator draws price independently of quantity,
    # so rho must sit near zero — a strong |rho| would mean the rank
    # transport is broken, not that the data is correlated
    assert abs(row["rho_spearman"]) < 0.1


def test_anova_decomposition_and_f(spark, sf_dir):
    """SSB + SSW must equal total SS (within quantization), F must be
    finite and non-negative, and the group/total counts must add up."""
    from nyc_taxi_data_engineering_spark.queries.statsq import q_anova_price_by_priority

    row = q_anova_price_by_priority(spark, sf_dir).collect()[0]
    import pandas as pd

    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderpriority", "o_totalprice"])
    assert row["k_groups"] == pdf["o_orderpriority"].nunique()
    assert row["n"] == len(pdf)
    x = pdf["o_totalprice"]
    ss_total = float((x * x).sum() - x.sum() ** 2 / len(x))
    assert abs((row["ss_between"] + row["ss_within"]) - ss_total) < max(1e-6 * ss_total, 1.0)
    assert row["ss_between"] >= 0 and row["ss_within"] > 0
    assert row["f_stat"] >= 0
    # direct F cross-check
    g = pdf.groupby("o_orderpriority")["o_totalprice"]
    sb = float(sum(s * s / n for s, n in zip(g.sum(), g.count())) - x.sum() ** 2 / len(x))
    sw = ss_total - sb
    f_direct = (sb / (row["k_groups"] - 1)) / (sw / (len(x) - row["k_groups"]))
    assert abs(row["f_stat"] - f_direct) < max(1e-6 * abs(f_direct), 1e-9)
