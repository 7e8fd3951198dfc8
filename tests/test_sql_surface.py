"""The SQL surface: decoders registered as SQL functions
(spark.udf.register — SURVEY §4: no Catalyst extension needed)."""

from oracdc_spark.functions import register_all


def test_decoders_callable_from_sql(spark):
    register_all(spark)
    row = spark.sql(
        """
        SELECT ora_number_to_double('3f534966')  AS num,
               ora_binary_double('bffbb67ae8584caa') AS bd,
               ora_interval_ym(unhex('8000000341'))  AS ym
        """
    ).first()
    assert row.num == -0.1828
    assert abs(row.bd - 3 ** 0.5) < 1e-15
    assert row.ym == "+3-5"


def test_events_funnel_ordering_semantics(spark):
    """The funnel counts users whose steps occur IN ORDER — a user with
    purchase before any click must not reach step 3."""
    import pyspark.sql.functions as F

    from oracdc_spark.operators.analytics import events_funnel

    rows = [
        # user 1: signup -> click -> purchase (converts)
        (1, 1, "signup", "2024-01-01 10:00:00"),
        (2, 1, "click", "2024-01-01 11:00:00"),
        (3, 1, "purchase", "2024-01-01 12:00:00"),
        # user 2: purchase BEFORE click (does not convert)
        (4, 2, "signup", "2024-01-01 10:00:00"),
        (5, 2, "purchase", "2024-01-01 10:30:00"),
        (6, 2, "click", "2024-01-01 11:00:00"),
        # user 3: signup only
        (7, 3, "signup", "2024-01-01 10:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = events_funnel(spark, d).collect()[0]
    assert (out.n_signup, out.n_click_after, out.n_purchase_after) == (3, 2, 1)


def test_value_histogram_merges_by_addition(spark):
    """Half-corpus histograms summed == whole-corpus histogram (the
    mergeable-sketch property; distribution analog of CMS/HLL/Bloom)."""
    import tempfile

    import pyspark.sql.functions as F

    from oracdc_spark.catalog import load_table
    from oracdc_spark.operators.analytics import events_value_histogram

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "events")
    with tempfile.TemporaryDirectory() as d:
        e.filter("event_id % 2 = 0").write.parquet(f"{d}/a/events.parquet")
        e.filter("event_id % 2 = 1").write.parquet(f"{d}/b/events.parquet")
        merged = (
            events_value_histogram(spark, f"{d}/a")
            .unionAll(events_value_histogram(spark, f"{d}/b"))
            .groupBy("event_type", "bin")
            .agg(F.sum("n").alias("n"))
        )
        whole = events_value_histogram(spark, sf)
        assert merged.exceptAll(whole).count() == 0
        assert whole.exceptAll(merged).count() == 0


def test_retention_cohorts_invariants(spark):
    """Offset-0 row per cohort equals the cohort size (100% retention
    by construction); no offset exceeds it; the plan carries exactly
    the three declared exchanges (user repartition fused under the
    distinct + window, the cohort/offset aggregate, the cohort window)."""
    from oracdc_spark.operators.analytics import events_retention_cohorts

    df = events_retention_cohorts(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_day, []).append(r)
    for cohort, rs in by_cohort.items():
        z = [r for r in rs if r.day_offset == 0]
        assert len(z) == 1 and z[0].n_active == z[0].cohort_size
        assert z[0].retention_pct == 100.0
        assert all(r.n_active <= r.cohort_size for r in rs)
        assert all(r.cohort_size == z[0].cohort_size for r in rs)
    import re

    # post-execution AQE plans print Final + Initial sections — count
    # the final section only
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 3


def test_active_users_sliding_distinct_semantics(spark, tmp_path):
    """A user active twice inside one trailing window counts ONCE in
    WAU; DAU <= WAU; stickiness derived. Handcrafted 3-user corpus."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    # u1 active on day0 and day2 (same 7-day window), u2 on day0,
    # u3 on day9 (outside the first window)
    for i, (u, d) in enumerate([(1, 0), (1, 2), (2, 0), (3, 9)]):
        rows.append((i, base + dt.timedelta(days=d, hours=1), u, "click", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    from oracdc_spark.operators.analytics import events_active_users

    out = {r.day: r for r in events_active_users(spark, sf).collect()}
    # observed days: 0, 2, 9
    assert set(out) == {"2024-01-01", "2024-01-03", "2024-01-10"}
    assert out["2024-01-01"].n_dau == 2 and out["2024-01-01"].n_wau == 2
    # day2: u1 counts once in the window {day0..day2 contributions}
    assert out["2024-01-03"].n_dau == 1 and out["2024-01-03"].n_wau == 2
    assert out["2024-01-10"].n_dau == 1 and out["2024-01-10"].n_wau == 1
    for r in out.values():
        assert r.n_dau <= r.n_wau
        assert r.stickiness_pct == round(r.n_dau / r.n_wau * 100, 4)


def test_transitions_markov_invariants(spark, tmp_path):
    """Per prev_type the probabilities sum to 1; counts reflect the
    per-user consecutive pairs exactly (handcrafted timeline)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # u1: a -> b -> a ; u2: a -> b   => (a,b): 2, (b,a): 1
    rows = [
        (0, base, 1, "a", 1.0, "{}"),
        (1, base + dt.timedelta(minutes=1), 1, "b", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=2), 1, "a", 1.0, "{}"),
        (3, base, 2, "a", 1.0, "{}"),
        (4, base + dt.timedelta(minutes=1), 2, "b", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    from oracdc_spark.operators.analytics import events_transitions

    out = {(r.prev_type, r.event_type): r for r in events_transitions(spark, sf).collect()}
    assert out[("a", "b")].n_steps == 2 and out[("a", "b")].p == 1.0
    assert out[("b", "a")].n_steps == 1 and out[("b", "a")].p == 1.0
    assert len(out) == 2
    by_prev: dict = {}
    for (pt, _), r in out.items():
        by_prev[pt] = by_prev.get(pt, 0.0) + r.p
    assert all(abs(v - 1.0) < 1e-9 for v in by_prev.values())


def test_funnel_windowed_excludes_stalled_steps(spark, tmp_path):
    """A click later than the window after signup must not count —
    unlike the unbounded funnel."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # u1 converts fully inside 24h windows
        (0, base, 1, "signup", 1.0, "{}"),
        (1, base + dt.timedelta(hours=2), 1, "click", 1.0, "{}"),
        (2, base + dt.timedelta(hours=4), 1, "purchase", 1.0, "{}"),
        # u2 clicks 30h after signup -> outside the 24h window
        (3, base, 2, "signup", 1.0, "{}"),
        (4, base + dt.timedelta(hours=30), 2, "click", 1.0, "{}"),
        (5, base + dt.timedelta(hours=31), 2, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    from oracdc_spark.operators.analytics import events_funnel, events_funnel_windowed

    wout = events_funnel_windowed(spark, sf, 24).collect()[0]
    assert (wout.n_signup, wout.n_click_24h, wout.n_purchase_24h) == (2, 1, 1)
    uout = events_funnel(spark, sf).collect()[0]
    assert (uout.n_signup, uout.n_click_after, uout.n_purchase_after) == (2, 2, 2)


def test_rfm_quartiles_balanced_and_consistent(spark):
    """NTILE(4) buckets differ in size by at most 1; scores match the
    metric order (best recency -> r=1, top spender -> m=1); segment
    string derives from (r, f, m)."""
    from oracdc_spark.operators.analytics import rfm_segments

    rows = rfm_segments(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert n > 0
    for col in ("r", "f", "m"):
        sizes = {}
        for r in rows:
            sizes[getattr(r, col)] = sizes.get(getattr(r, col), 0) + 1
        assert set(sizes) == {1, 2, 3, 4}
        assert max(sizes.values()) - min(sizes.values()) <= 1
    best_rec = min(rows, key=lambda r: (r.recency_days, r.custkey))
    assert best_rec.r == 1
    top_spend = max(rows, key=lambda r: (r.monetary, -r.custkey))
    assert top_spend.m == 1
    assert all(r.segment == f"{r.r}-{r.f}-{r.m}" for r in rows)


def test_copurchase_lift_independence_identity(spark, tmp_path):
    """On a handcrafted basket set the lift must equal the exact
    n_ab*N/(n_a*n_b) formula; a pair co-occurring in every order of
    both brands gets lift >= 1, a never-paired brand drops below the
    support floor and is absent."""
    # 6 orders: brands A,B always together (4x), C alone twice with A
    li, part = [], [(1, "x", "A", "t", 1, 1.0), (2, "x", "B", "t", 1, 1.0), (3, "x", "C", "t", 1, 1.0)]
    ok = 0
    for _ in range(4):
        ok += 1
        li += [(ok * 10 + 1, ok, 1), (ok * 10 + 2, ok, 2)]
    for _ in range(2):
        ok += 1
        li += [(ok * 10 + 1, ok, 1), (ok * 10 + 2, ok, 3)]
    sf = str(tmp_path)
    spark.createDataFrame(
        [(lk, o, p) for lk, o, p in li], "l_linenumber long, l_orderkey long, l_partkey long"
    ).write.parquet(f"{sf}/lineitem.parquet")
    spark.createDataFrame(
        part, "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double"
    ).write.parquet(f"{sf}/part.parquet")
    from oracdc_spark.operators.analytics import copurchase_lift

    out = {(r.brand_a, r.brand_b): r for r in copurchase_lift(spark, sf, min_pairs=2).collect()}
    # N=6 orders; n_A=6, n_B=4, n_C=2; n_AB=4, n_AC=2, n_BC=0
    ab = out[("A", "B")]
    assert ab.n_ab == 4 and ab.lift == round(4 * 6 / (6 * 4), 6) == 1.0
    ac = out[("A", "C")]
    assert ac.n_ab == 2 and ac.lift == round(2 * 6 / (6 * 2), 6) == 1.0
    assert ("B", "C") not in out


def test_wau_hll_audit_exact_matches_and_estimate_sane(spark, tmp_path):
    """The audit's exact column must equal events_active_users' n_wau
    day-for-day, and the HLL estimate must be within the 1024-register
    theoretical error envelope (~3.25%; allow 4x slack) on a corpus well
    inside the linear-counting regime."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    eid = 0
    for u in range(200):
        for d in (u % 3, 3 + u % 5):
            rows.append((eid, base + dt.timedelta(days=d, hours=2), u, "click", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    from oracdc_spark.operators.analytics import (
        events_active_users,
        events_wau_hll_audit,
    )

    exact = {r.day: r.n_wau for r in events_active_users(spark, sf).collect()}
    audit = {r.day: r for r in events_wau_hll_audit(spark, sf).collect()}
    assert set(audit) == set(exact)
    for day, r in audit.items():
        assert r.n_wau_exact == exact[day]
        assert r.rel_err <= 0.13, (day, r)


def test_bloom_pruned_revenue_matches_plain_semijoin(spark):
    """The Bloom prune must be invisible in the result (lossless), and
    must actually prune: kept rows >= exact matches (no false
    negatives) but well below the full fact table."""
    import pyspark.sql.functions as F

    from oracdc_spark.catalog import load_table
    from oracdc_spark.operators.analytics import bloom_pruned_revenue
    from oracdc_spark.operators.textops import bloom_build, bloom_prune
    from tests.conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    plain = (
        o.join(F.broadcast(c.select("c_custkey")),
               o["o_custkey"] == F.col("c_custkey"), "semi")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    got = {r.month: r.n_orders for r in bloom_pruned_revenue(spark, SF_SMOKE).collect()}
    want = {r.month: r.n_orders for r in plain.collect()}
    assert got == want

    filt = bloom_build(c.select(F.col("c_custkey").cast("string").alias("tok")))
    n_total = o.count()
    n_pruned = bloom_prune(
        o.withColumn("_k", F.col("o_custkey").cast("string")), "_k", filt
    ).count()
    n_exact = o.join(
        F.broadcast(c.select("c_custkey")), o["o_custkey"] == F.col("c_custkey"), "semi"
    ).count()
    assert n_exact <= n_pruned < n_total
