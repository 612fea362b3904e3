"""Semantic invariants for the round-10 operators, on planted fixtures
the driver's oracle differential doesn't independently exercise:
LOCF fill values/ages, Markov transition normalization, winnowing's
shared-span guarantee, and the repetition filters' exact fractions."""

import pytest
from pyspark.sql import functions as F


def test_locf_fills_known_gaps(spark, tmp_path):
    from eurostat_energy_etl_pipeline_spark.plans.events import q142

    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, "2024-01-01 10:00:00", 1, "click", 300.0, ""),
        (2, "2024-01-04 10:00:00", 1, "click", 280.0, ""),
        # low-value noise fixes the global span at Jan 1-6
        (3, "2024-01-06 10:00:00", 2, "view", 10.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {
        (r["event_type"], r["day"]): r
        for r in q142(spark, str(tmp_path)).collect()
    }
    # click observed Jan 1 (300) and Jan 4 (280); LOCF carries 300
    # through Jan 2-3 with rising gap age, then 280 through Jan 5-6.
    assert set(got) == {("click", f"2024-01-0{d}") for d in range(1, 7)}
    expect = {
        "2024-01-01": (1, 300.0, 0),
        "2024-01-02": (0, 300.0, 1),
        "2024-01-03": (0, 300.0, 2),
        "2024-01-04": (1, 280.0, 0),
        "2024-01-05": (0, 280.0, 1),
        "2024-01-06": (0, 280.0, 2),
    }
    for day, (obs, val, age) in expect.items():
        r = got[("click", day)]
        assert (r["observed"], r["filled_value"], r["gap_age_days"]) == (
            obs, val, age,
        )
    # view never crosses the threshold -> no view rows at all
    assert not any(t == "view" for t, _ in got)


def test_markov_rows_normalize_and_order_by_event_id(spark, tmp_path):
    from eurostat_energy_etl_pipeline_spark.plans.events import q143

    # user 1: view -> click -> purchase; user 2: view -> view.
    # Events 10/11 share a timestamp: event_id must break the tie.
    rows = [
        (10, "2024-01-01 10:00:00", 1, "view", 1.0, ""),
        (11, "2024-01-01 10:00:00", 1, "click", 1.0, ""),
        (12, "2024-01-01 11:00:00", 1, "purchase", 1.0, ""),
        (20, "2024-01-02 10:00:00", 2, "view", 1.0, ""),
        (21, "2024-01-02 11:00:00", 2, "view", 1.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {(r["src"], r["dst"]): r for r in q143(spark, str(tmp_path)).collect()}
    assert set(got) == {
        ("view", "click"), ("click", "purchase"), ("view", "view"),
    }
    assert got[("view", "click")]["n"] == 1
    # row 'view' has two outgoing transitions -> p = 0.5 each
    assert got[("view", "click")]["p"] == 0.5
    assert got[("view", "view")]["p"] == 0.5
    assert got[("click", "purchase")]["p"] == 1.0
    # per-src probabilities sum to 1 on the 1e-6 grid
    from collections import defaultdict

    sums = defaultdict(float)
    for (src, _), r in got.items():
        sums[src] += r["p"]
    assert all(abs(s - 1.0) < 2e-6 for s in sums.values())


def test_winnowing_shared_span_guarantee(spark):
    """Winnowing's theorem: two documents sharing a verbatim span of
    >= k + w - 1 tokens share at least one selected fingerprint HASH."""
    from eurostat_energy_etl_pipeline_spark.operators.substrings import (
        winnowing_fingerprints,
    )

    span = "s1 s2 s3 s4 s5 s6 s7"  # exactly k + w - 1 = 7 tokens
    rows = [
        (1, f"a b c {span} d e f g"),
        (2, f"zz {span} yy xx ww vv uu"),
        (3, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sel = winnowing_fingerprints(df, k=4, w=4).collect()
    by_doc = {}
    for r in sel:
        by_doc.setdefault(r["doc_id"], set()).add(r["gh"])
    assert by_doc[1] & by_doc[2], "shared 7-token span must share a fingerprint"
    assert not (by_doc[3] & (by_doc[1] | by_doc[2]))
    # density: selected positions are a strict subset of gram positions
    for d, (_, text) in zip((1, 2, 3), [(r[0], r[1]) for r in rows]):
        n_grams = len(rows[d - 1][1].split()) - 3
        n_sel = sum(1 for r in sel if r["doc_id"] == d)
        assert 0 < n_sel < n_grams


def test_repetition_profile_exact_fractions(spark):
    from eurostat_energy_etl_pipeline_spark.operators.substrings import (
        repetition_profile,
    )

    rows = [
        # doc 1: "x y" repeated 3x -> top2 gram "x y" cnt=3 of 6 tokens
        # -> top2_frac = 3*2/6 = 1.0; 5-gram "x y x y x" occurs at pos
        # 1 and... tokens: x y x y x y -> 5-grams: (x y x y x),(y x y x y)
        # each once -> dup5_frac 0.
        (1, "x y x y x y"),
        # doc 2: no repeated 2-gram; 8 distinct tokens
        (2, "a b c d e f g h"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_profile(df).collect()}
    assert got[1]["top2_frac"] == 1.0
    assert got[1]["dup5_frac"] == 0.0
    assert got[1]["flagged"] == 1
    # doc 2: every 2-gram unique -> top2 = 1 occurrence * 2 / 8 = 0.25
    assert got[2]["top2_frac"] == 0.25
    assert got[2]["dup5_frac"] == 0.0
    # doc with a whole-doc 5-gram repeat: 12 tokens, "p q r s t" at
    # pos 1 and pos 7 (disjoint) -> coverage 10/12
    df2 = spark.createDataFrame(
        [(3, "p q r s t zz p q r s t yy")], "doc_id long, text string"
    )
    r3 = repetition_profile(df2).collect()[0]
    # positions 1..6? grams of len 5 over 12 tokens -> 8 positions;
    # repeated gram "p q r s t" at pos 1 and 7 -> covered [1,5]+[7,11]=10
    assert r3["dup5_frac"] == round(10 / 12, 6) or abs(
        r3["dup5_frac"] - 0.833333
    ) < 1e-9
    assert r3["flagged"] == 1


def test_mutual_information_identities(spark, tmp_path):
    """MI and conditional entropy on a planted 2x2 contingency: the
    perfectly-dependent case has MI = H(lang) and H(lang|source) = 0;
    the independent case has MI ~ 0."""
    import math

    from eurostat_energy_etl_pipeline_spark.plans.corpus import q146

    # dependent: lang determined by source (two docs each)
    rows = [
        (1, "t", "en", "s1", 1), (2, "t", "en", "s1", 1),
        (3, "t", "fr", "s2", 1), (4, "t", "fr", "s2", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/dep/documents.parquet")
    r = q146(spark, f"{tmp_path}/dep").collect()[0]
    assert r["h_lang_given_source"] == 0.0
    assert abs(r["mi"] - r["h_lang"]) < 2e-6
    assert abs(r["h_lang"] - math.log(2)) < 2e-6
    # independent: every (lang, source) cell equally likely
    rows2 = [
        (i, "t", lang, src, 1)
        for i, (lang, src) in enumerate(
            [(a, b) for a in ("en", "fr") for b in ("s1", "s2")] * 2
        )
    ]
    spark.createDataFrame(
        rows2, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/ind/documents.parquet")
    r2 = q146(spark, f"{tmp_path}/ind").collect()[0]
    assert abs(r2["mi"]) < 2e-6
    assert abs(r2["h_lang_given_source"] - r2["h_lang"]) < 2e-6


def test_rank_fusion_orders_and_bounds(spark):
    """RRF invariants on the real fixture: 20 rows, rrf consistent with
    the two rank columns (recomputed), monotone non-increasing, and a
    document ranked #1 by BOTH signals would dominate."""
    import __spark_entry__ as m

    rows = m.queries()["q148_rank_fusion"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 20
    vals = [r["rrf"] for r in rows]
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    for r in rows:
        want = round(
            1.0 / (60 + r["rank_quality"]) + 1.0 / (60 + r["rank_length"]), 9
        )
        assert abs(r["rrf"] - want) < 2e-9
        assert r["rank_quality"] >= 1 and r["rank_length"] >= 1


def test_new_vs_returning_accounting(spark, tmp_path):
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.plans.events import q149

    rows = [
        (1, "2024-01-01 09:00:00", 1, "view", 1.0, ""),
        (2, "2024-01-01 10:00:00", 2, "view", 1.0, ""),
        (3, "2024-01-02 09:00:00", 1, "click", 1.0, ""),   # returning
        (4, "2024-01-02 10:00:00", 3, "view", 1.0, ""),    # new
        (5, "2024-01-03 09:00:00", 1, "view", 1.0, ""),
        (6, "2024-01-03 10:00:00", 2, "view", 1.0, ""),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = {r["day"]: r for r in q149(spark, str(tmp_path)).collect()}
    assert (got["2024-01-01"]["new_users"], got["2024-01-01"]["returning_users"]) == (2, 0)
    assert (got["2024-01-02"]["new_users"], got["2024-01-02"]["returning_users"]) == (1, 1)
    assert (got["2024-01-03"]["new_users"], got["2024-01-03"]["returning_users"]) == (0, 2)
    assert [got[d]["cum_users"] for d in sorted(got)] == [2, 3, 3]


def test_classifier_eval_exact_on_planted_labels(spark, tmp_path):
    """Per-class precision/recall/F1 on documents whose predictions are
    known: stopword-heavy English text predicts 'en' deterministically,
    so mislabeling half of them 'fr' yields exact metric values."""
    from eurostat_energy_etl_pipeline_spark.plans.northstar import q150

    en = "the cat and the dog is on a mat with the hat for it"
    rows = [
        (1, en, "en", "s", 1), (2, en, "en", "s", 1),
        (3, en, "fr", "s", 1),  # actual fr, predicted en -> fn for fr
        (4, en, "fr", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r["cls"]: r for r in q150(spark, str(tmp_path)).collect()}
    assert set(got) == {"en", "fr"}
    # en: tp=2 (both en docs predicted en), fp=2 (fr docs predicted en)
    assert (got["en"]["tp"], got["en"]["fp"], got["en"]["fn"]) == (2, 2, 0)
    assert got["en"]["precision_"] == 0.5
    assert got["en"]["recall_"] == 1.0
    assert abs(got["en"]["f1"] - round(4 / 6, 6)) < 2e-6
    # fr: never predicted -> tp=0, fp=0, fn=2, all metrics 0
    assert (got["fr"]["tp"], got["fr"]["fp"], got["fr"]["fn"]) == (0, 0, 2)
    assert got["fr"]["precision_"] == 0.0 and got["fr"]["f1"] == 0.0


def test_ab_test_statistics_are_consistent(spark):
    """A/B readout invariants on the real fixture: cohorts partition the
    user base, the hash split is reproducible, the CI brackets the
    difference, and z's sign matches the difference's."""
    import hashlib

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.01"
    r = m.queries()["q151_ab_test"](spark, sf).collect()[0]
    users = {
        x["user_id"]
        for x in spark.read.parquet(f"{sf}/events.parquet")
        .select("user_id")
        .distinct()
        .collect()
    }
    n_a = sum(
        1 for u in users if hashlib.md5(f"ab:{u}".encode()).hexdigest()[0] < "8"
    )
    assert (r["n_a"], r["n_b"]) == (n_a, len(users) - n_a)
    assert 0 <= r["conv_a"] <= r["n_a"] and 0 <= r["conv_b"] <= r["n_b"]
    assert r["ci_lo"] <= r["diff"] <= r["ci_hi"]
    if r["diff"] != 0:
        assert (r["z"] > 0) == (r["diff"] > 0)
    assert abs(r["diff"] - round(r["rate_a"] - r["rate_b"], 6)) < 3e-6


def test_ivm_merge_equals_recompute_and_reuses_mv(spark, tmp_path):
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.plans.relational import q152

    rows = [
        # custkey 1: base 2 orders (100, 200), delta 1 order (50)
        (1, 1, "F", 100.0, "1995-01-01"),
        (2, 1, "F", 200.0, "1996-06-01"),
        (3, 1, "F", 50.0, "1997-01-01"),
        # custkey 2: delta-only (no base partial row exists)
        (4, 2, "O", 400.0, "1998-01-01"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {r["o_custkey"]: r for r in q152(spark, str(tmp_path)).collect()}
    assert got[1]["n_orders"] == 3 and got[1]["total"] == 350.0
    assert got[2]["n_orders"] == 1 and got[2]["total"] == 400.0
    assert got[1]["avg_price"] == round(350.0 / 3, 6)
    # the at-rest MV was memoized for this (session, sf_dir): the store
    # hands back its path without calling a writer
    from eurostat_energy_etl_pipeline_spark import artifacts

    path = artifacts.session_table(
        spark, str(tmp_path), "mv_base", lambda p: pytest.fail("base not memoized")
    )
    import os

    mtime = os.path.getmtime(path)
    q152(spark, str(tmp_path)).collect()  # second call: merge only
    assert os.path.getmtime(path) == mtime  # base not rewritten


def test_decayed_leaderboard_exact_weights(spark, tmp_path):
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.plans.events import q153

    rows = [
        # ref day = 2024-01-10 (max). user 1: purchase on ref (w=1) and
        # ref-1 (w=0.5); user 2: one purchase 3 days old (w=0.125).
        (1, "2024-01-10 12:00:00", 1, "purchase", 100.0, ""),
        (2, "2024-01-09 12:00:00", 1, "purchase", 100.0, ""),
        (3, "2024-01-07 12:00:00", 2, "purchase", 80.0, ""),
        (4, "2024-01-10 13:00:00", 2, "view", 999.0, ""),  # not a purchase
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = {r["user_id"]: r for r in q153(spark, str(tmp_path)).collect()}
    assert got[1]["decayed_value"] == 150.0  # 100*1 + 100*0.5
    assert got[2]["decayed_value"] == 10.0   # 80 * 2^-3
    assert got[1]["n_purchases"] == 2 and got[2]["n_purchases"] == 1


def test_column_profile_exact_on_planted_table(spark, tmp_path):
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.plans.events import q154

    rows = [
        (1, "2024-01-01 10:00:00", 7, "view", 1.5, "a"),
        (2, "2024-01-02 10:00:00", 7, "view", 2.5, None),
        (3, "2024-01-03 10:00:00", 900, "click", None, "a"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = {r["col"]: r for r in q154(spark, str(tmp_path)).collect()}
    assert set(got) == {"event_id", "ts", "user_id", "event_type", "value", "props"}
    et = got["event_type"]
    assert (et["n_nulls"], et["n_distinct"], et["top_value"], et["top_n"]) == (
        0, 2, "view", 2,
    )
    v = got["value"]
    assert v["n_nulls"] == 1 and v["n_distinct"] == 2
    # zero-padded sortable rendering: numeric bounds, not lexicographic
    assert v["min_s"].endswith("1.50") and v["max_s"].endswith("2.50")
    u = got["user_id"]
    assert u["min_s"].endswith("007") and u["max_s"].endswith("900")
    p = got["props"]
    assert p["n_nulls"] == 1 and p["top_value"] == "a" and p["top_n"] == 2


def test_rfm_orientation_and_accounting(spark, tmp_path):
    """Score orientation: the most-recent / most-frequent / biggest-spend
    customer must land in the (5,5,5) cell and the worst in (1,1,1);
    cells partition the customer base and order counts reconcile."""
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.plans.relational import q155

    rows = []
    # five customers with strictly increasing recency/frequency/spend
    # (customer k: k orders of value 100*k on day 10-k)
    oid = 0
    for k in range(1, 6):
        for _ in range(k):
            oid += 1
            rows.append((oid, k, "F", 100.0 * k, f"2024-01-{10 - k:02d}"))
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = q155(spark, str(tmp_path)).collect()
    cells = {(r["r_score"], r["f_score"], r["m_score"]): r for r in out}
    assert sum(r["n_customers"] for r in out) == 5
    assert sum(r["n_orders"] for r in out) == 15
    # customer 1: 1 order, cheapest, OLDEST (day 9? no: day 10-1=09) —
    # wait: customer k orders on day 10-k, so customer 1 orders latest
    # (Jan 09) ... customer 5 orders earliest (Jan 05). Most recent =
    # customer 1 (r=5) but least frequent/spend (f=1, m=1).
    assert (5, 1, 1) in cells and cells[(5, 1, 1)]["n_customers"] == 1
    # customer 5: oldest (r=1) but most orders and spend (f=5, m=5)
    assert (1, 5, 5) in cells and cells[(1, 5, 5)]["n_orders"] == 5
    assert cells[(1, 5, 5)]["total_monetary"] == 2500.0
