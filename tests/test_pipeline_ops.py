"""Unit tests for the round-4 pipeline operators: exact_ntile, salted
aggregation, inter-arrival stats, and corpus-LM familiarity.

The oracle parity for each is already driver-replicated in
test_relational.py; these tests pin the SEMANTIC edges the oracle data may
not exercise (ntile's uneven-bucket split, single-event keys, empty docs,
bit-exact salted-vs-unsalted equality).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from medical_ocr_service_spark.operators.datasets import exact_ntile
from medical_ocr_service_spark.operators.skew import salted_group_agg
from medical_ocr_service_spark.operators.temporal import interarrival_stats
from medical_ocr_service_spark.operators.text_analysis import (
    unigram_familiarity,
)


def test_exact_ntile_matches_window_ntile(spark):
    # 23 rows over 10 buckets: N mod B = 3, so buckets 1-3 get 3 rows and
    # 4-10 get 2 — the uneven split ntile specifies. Values collide
    # (ties) so the per-value row_number path is exercised too.
    rows = [(i, (i * 7) % 5) for i in range(23)]
    df = spark.createDataFrame(rows, ["id", "v"])
    from pyspark.sql import Window

    expected = {
        r["id"]: r["b"]
        for r in df.select(
            "id",
            F.ntile(10).over(Window.orderBy("v", "id")).alias("b"),
        ).collect()
    }
    got = {
        r["id"]: r["bucket"]
        for r in exact_ntile(df, "v", "id", n_buckets=10).collect()
    }
    assert got == expected


def test_exact_ntile_divisible_and_single_bucket(spark):
    df = spark.createDataFrame([(i, i) for i in range(20)], ["id", "v"])
    buckets = [
        r["bucket"]
        for r in exact_ntile(df, "v", "id", n_buckets=4)
        .orderBy("v")
        .collect()
    ]
    assert buckets == [1] * 5 + [2] * 5 + [3] * 5 + [4] * 5
    assert {
        r["bucket"] for r in exact_ntile(df, "v", "id", n_buckets=1).collect()
    } == {1}


def test_salted_agg_equals_unsalted(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    salted = salted_group_agg(
        events, "event_type", "value", salt_from="event_id", n_salts=16
    )
    plain = events.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum(F.col("value").cast("decimal(38,6)")), 4)
        .cast("double")
        .alias("total_value"),
    )
    a = {r["event_type"]: (r["n_rows"], r["total_value"]) for r in salted.collect()}
    b = {r["event_type"]: (r["n_rows"], r["total_value"]) for r in plain.collect()}
    assert a == b  # DECIMAL partials reassociate exactly — bit-identical


def test_salted_agg_plan_has_two_stage_aggregate(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = salted_group_agg(
        events, "event_type", "value", salt_from="event_id"
    )._jdf.queryExecution().executedPlan().toString()
    # stage 1 keys on (key, salt): the first exchange must carry _salt so
    # the hot key spreads across reducers before the per-key merge.
    assert "_salt" in plan


def test_interarrival_gaps_and_single_event_exclusion(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10),
        (1, t0 + dt.timedelta(seconds=5), 11),
        (1, t0 + dt.timedelta(seconds=20), 12),  # gaps 5s, 15s
        (2, t0, 20),  # single event -> excluded
        (3, t0, 30),
        (3, t0, 31),  # zero gap, tie broken by event_id
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])
    out = {
        r["user_id"]: (r["n_events"], r["max_gap_us"], r["avg_gap_s"])
        for r in interarrival_stats(df, "user_id", "ts", "event_id").collect()
    }
    assert set(out) == {1, 3}
    assert out[1] == (3, 15_000_000, 10.0)  # mean(5s, 15s)
    assert out[3] == (2, 0, 0.0)


def test_unigram_familiarity_orders_rare_docs_first(spark):
    # corpus: 'the' dominates; doc 3 is pure hapax -> lowest familiarity.
    rows = [
        (1, "the the the the"),
        (2, "the the cat"),
        (3, "zyx qwv"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = unigram_familiarity(df, "text", "doc_id", bottom_k=3).collect()
    assert [r["doc_id"] for r in out] == [3, 2, 1]
    # total=9 tokens; doc3 mass = 1+1 -> 2/(9*2) ~ 0.111111111
    assert abs(out[0]["familiarity"] - round(2 / 18, 9)) < 1e-12
    # doc1: mass = tf(the)*cnt(the) = 4*6 = 24 -> 24/(9*4)
    assert abs(out[2]["familiarity"] - round(24 / 36, 9)) < 1e-12
    assert out[0]["dl"] == 2


def test_unigram_familiarity_skips_empty_docs(spark):
    rows = [(1, "a a"), (2, "   "), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = unigram_familiarity(df, "text", "doc_id", bottom_k=10).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_text_scorers_hint_broadcast_only_on_scalar_frames(spark):
    """r4 verdict #3: the vocabulary-sized joins (corpus counts back onto
    the tf frame) must carry NO broadcast hint — at web-scale the distinct-
    token count reaches 10^8-10^9 rows and a forced broadcast OOMs; AQE
    picks broadcast at runtime when the vocab is actually small. Exactly
    ONE hint is allowed per scorer: the single-row corpus-scalars frame.
    The token groupBys must still map-side combine (partial aggregates in
    the physical plan)."""
    from medical_ocr_service_spark.operators.text_analysis import (
        bm25_topk_terms,
        unigram_familiarity,
    )

    rows = [(i, f"tok{i % 7} the and tok{i % 11}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for out in (
        unigram_familiarity(df, "text", "doc_id", bottom_k=3),
        bm25_topk_terms(df, "text", "doc_id", k=2),
    ):
        qe = out._jdf.queryExecution()
        analyzed = qe.analyzed().toString()
        # one ResolvedHint total: the 1-row scalar crossJoin, nothing else
        assert analyzed.count("ResolvedHint") == 1, analyzed
        physical = qe.executedPlan().toString()
        assert "partial_" in physical  # token aggs map-side combine


def test_funnel_out_of_order_click_does_not_count(spark):
    from medical_ocr_service_spark.operators.temporal import funnel

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        # user 1: proper view -> click -> purchase
        (1, "view", t0), (1, "click", t0 + s), (1, "purchase", t0 + 2 * s),
        # user 2: click BEFORE first view -> stops at view
        (2, "click", t0), (2, "view", t0 + s),
        # user 3: view -> click, purchase BEFORE the click -> stops at click
        (3, "purchase", t0), (3, "view", t0 + s), (3, "click", t0 + 2 * s),
        # user 4: purchase only -> not even step 1
        (4, "purchase", t0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = funnel(df, ["view", "click", "purchase"], "user_id",
                 "event_type", "ts").collect()[0]
    assert out["n_view"] == 3          # users 1, 2, 3
    assert out["n_view_click"] == 2    # users 1, 3
    assert out["n_view_click_purchase"] == 1  # user 1 only


def test_funnel_equal_timestamps_inclusive(spark):
    from medical_ocr_service_spark.operators.temporal import funnel

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, "view", t0), (1, "click", t0)], ["user_id", "event_type", "ts"]
    )
    out = funnel(df, ["view", "click"], "user_id", "event_type", "ts").collect()[0]
    assert (out["n_view"], out["n_view_click"]) == (1, 1)


def test_cohort_retention_offsets(spark):
    from medical_ocr_service_spark.operators.temporal import cohort_retention

    d = dt.datetime
    rows = [
        (1, d(2024, 1, 1)), (1, d(2024, 1, 3)),   # same week -> offset 0 once
        (1, d(2024, 1, 9)),                        # day 8 -> offset 1
        (2, d(2024, 1, 2)), (2, d(2024, 1, 16)),   # day 14 -> offset 2
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (str(r["cohort_day"]), r["period_offset"]): r["n_active"]
        for r in cohort_retention(df, "user_id", "ts", 7).collect()
    }
    assert out == {
        ("2024-01-01", 0): 1, ("2024-01-01", 1): 1,
        ("2024-01-02", 0): 1, ("2024-01-02", 2): 1,
    }


def test_exact_grouped_median_matches_percentile(spark):
    from medical_ocr_service_spark.operators.datasets import (
        exact_grouped_median,
    )

    rows = [("a", v) for v in [1, 3, 3, 7, 10]] + [  # odd -> 3
        ("b", v) for v in [2, 4, 6, 100]             # even -> 5.0
    ] + [("c", 42)]                                   # singleton -> 42
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {
        r["g"]: (r["n_rows"], r["median_value"])
        for r in exact_grouped_median(df, "g", "v").collect()
    }
    assert got == {"a": (5, 3.0), "b": (4, 5.0), "c": (1, 42.0)}
    ref = {
        r["g"]: r["m"]
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, 0.5)").alias("m"))
        .collect()
    }
    assert {g: m for g, (_, m) in got.items()} == ref


def test_stratum_fixed_k_small_stratum_and_exactness(spark, sf_dir):
    from medical_ocr_service_spark.operators.datasets import (
        stratum_fixed_k_sample,
    )
    from pyspark.sql import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    out = stratum_fixed_k_sample(d, "lang", "doc_id", k=10, slack=8)
    sizes = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    full = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, n in sizes.items():
        assert n == min(10, full[lang])
    # equals the unbounded single-reducer window's answer (same hash order)
    u32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = Window.partitionBy("lang").orderBy(u32, "doc_id")
    ref = (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .select("doc_id", "lang")
    )
    assert {tuple(r) for r in out.select("doc_id", "lang").collect()} == {
        tuple(r) for r in ref.select("doc_id", "lang").collect()
    }


def test_weighted_downsample_zero_weight_never_kept(spark):
    from medical_ocr_service_spark.operators.datasets import (
        weighted_downsample,
    )

    rows = [(i, 0 if i % 2 else 100) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    out = weighted_downsample(df, "w", "doc_id", rate_num=1, rate_den=1)
    kept = out.collect()
    assert all(r["w"] == 100 for r in kept)
    # max-weight rows gate at rate_num/rate_den = 1 -> ALL of them survive
    assert len(kept) == 100


def test_exact_ntile_nulls_match_window_ntile(spark):
    """NULL values get buckets exactly as ntile() assigns them (Spark ASC
    ordering = NULLS FIRST). Regression: a plain equi-join COUNTED the null
    rows in the offsets but dropped them from the output, shifting every
    non-null row's rank by the null count."""
    from pyspark.sql import Window

    rows = [(i, None if i % 7 == 0 else (i * 3) % 5) for i in range(23)]
    df = spark.createDataFrame(rows, ["id", "v"])
    expected = {
        r["id"]: r["b"]
        for r in df.select(
            "id", F.ntile(4).over(Window.orderBy("v", "id")).alias("b")
        ).collect()
    }
    got = {
        r["id"]: r["bucket"]
        for r in exact_ntile(df, "v", "id", n_buckets=4).collect()
    }
    assert got == expected  # includes the 4 NULL-valued ids


def test_exact_grouped_median_and_quantiles_ignore_nulls(spark):
    """SQL aggregate semantics: median()/quantile_cont() skip NULLs.
    Regression: a NULL row used to be counted in N (shifting every rank,
    NULLS FIRST) while its probe value vanished under max()."""
    from medical_ocr_service_spark.operators.datasets import (
        exact_grouped_median,
        exact_grouped_quantiles,
    )

    rows = [("a", None), ("a", 1), ("a", 3), ("b", None), ("b", None)]
    df = spark.createDataFrame(rows, ["g", "v"])
    med = {
        r["g"]: (r["n_rows"], r["median_value"])
        for r in exact_grouped_median(df, "g", "v").collect()
    }
    # group a: median over [1, 3] = 2.0, n_rows = NON-NULL count;
    # all-NULL group b is omitted (documented divergence from SQL's NULL row)
    assert med == {"a": (2, 2.0)}
    ref = df.groupBy("g").agg(F.expr("percentile(v, 0.5)").alias("m"))
    assert {r["g"]: r["m"] for r in ref.collect()}["a"] == med["a"][1]
    q = exact_grouped_quantiles(df, "g", "v", qs=(0.5,)).collect()
    assert len(q) == 1 and q[0]["q50"] == 2.0 and q[0]["n_rows"] == 2


def test_weighted_downsample_fractional_weights(spark):
    """Double quality-score weights survive: the fixed-point scaling path
    (w = ROUND(weight * 2^20)) keeps p = w/max exact to ~1e-6. Regression:
    cast('long') truncated a [0,1] score column's max to 0 -> empty output."""
    from medical_ocr_service_spark.operators.datasets import (
        weighted_downsample,
    )

    rows = [(i, 1.0 if i % 2 else 0.25) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    kept = weighted_downsample(df, "w", "doc_id").collect()
    full = [r for r in kept if r["w"] == 1.0]
    quarter = [r for r in kept if r["w"] == 0.25]
    assert len(full) == 200  # p = 1 -> every max-weight row survives
    # p = 0.25 over 200 rows: expectation 50, md5 is uniform enough that
    # [20, 90] is a >6-sigma-safe band (this is deterministic, not flaky)
    assert 20 <= len(quarter) <= 90
    # determinism: the SAME rows survive on a second run
    again = weighted_downsample(df, "w", "doc_id").collect()
    assert sorted(r["doc_id"] for r in again) == sorted(
        r["doc_id"] for r in kept
    )


def test_quantized_ann_topk_without_label_column(spark):
    """id_col/vec_col are parameterized, so the passthrough must not
    hard-require a 'label' column (regression: AnalysisException on any
    frame without one)."""
    from medical_ocr_service_spark.operators import similarity_search

    rows = [(i, [float(i), 1.0, 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity_search.quantized_ann_topk(df, query_id=5, k=2)
    assert out.columns == ["vec_id", "qdot"]
    assert out.count() == 2


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=9), min_size=1, max_size=40
    ),
    b=st.integers(min_value=1, max_value=11),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_ntile_fuzz_vs_window_ntile(spark, vals, b):
    from medical_ocr_service_spark.operators.datasets import exact_ntile
    from pyspark.sql import Window

    df = spark.createDataFrame(list(enumerate(vals)), ["id", "v"])
    expected = {
        r["id"]: r["b"]
        for r in df.select(
            "id", F.ntile(b).over(Window.orderBy("v", "id")).alias("b")
        ).collect()
    }
    got = {
        r["id"]: r["bucket"]
        for r in exact_ntile(df, "v", "id", n_buckets=b).collect()
    }
    assert got == expected


@given(
    groups=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_grouped_median_fuzz_vs_percentile(spark, groups):
    from medical_ocr_service_spark.operators.datasets import (
        exact_grouped_median,
    )

    df = spark.createDataFrame(groups, ["g", "v"])
    got = {
        r["g"]: r["median_value"]
        for r in exact_grouped_median(df, "g", "v").collect()
    }
    ref = {
        r["g"]: r["m"]
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, 0.5)").alias("m"))
        .collect()
    }
    assert got == ref


def test_aqe_splits_skewed_join_partition(spark):
    """North-rule skew evidence: AQE's skew-join split actually fires on a
    pathological hot key (one key holding ~99% of rows), complementing the
    explicit salting operator. Thresholds are lowered only inside this test
    and restored after."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        )
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "32KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        # the payload must be DATA-DEPENDENT: a literal pad gets projected
        # out of the exchange (re-attached post-join) and 60k identical
        # longs lz4-compress below any realistic skew threshold.
        left = spark.range(0, 60000).select(
            F.when(F.col("id") % 1000 != 0, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit(1).alias("r")
        )
        joined = left.join(right, "k")
        # execute THIS DataFrame's queryExecution (count() would plan a
        # separate aggregate query whose adaptive plan never finalizes here)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_driver_window_registry_invariants():
    """Pure-Python contract guard for the driver's 50-query cutoff: the
    window list is exactly 50, names only registered queries, and the
    registry's first 50 keys ARE the window (the driver executes first-50
    in insertion order — a misordered registration silently unverifies a
    query)."""
    import __spark_entry__ as entry_mod
    from medical_ocr_service_spark.plans.entry_queries import _DRIVER_WINDOW

    q = list(entry_mod.queries())
    oracles = entry_mod.oracle_sql()
    assert len(_DRIVER_WINDOW) == 50
    assert len(set(_DRIVER_WINDOW)) == 50
    assert q[:50] == _DRIVER_WINDOW
    unknown = [n for n in _DRIVER_WINDOW if n not in q]
    assert not unknown
    # every registered query is oracle-backed except the rows-only ones
    # (extraction e2e: pandas-UDF state machines; image near-dup: real
    # pixel decode; audio near-dup: real WAV decode + spectral-band
    # fingerprinting; video near-dup: MJBM container + per-frame raster
    # decode — none of these decode stages is SQL-expressible, and each
    # rows-only query's content is value-locked by a dedicated pytest)
    assert sorted(set(q) - set(oracles)) == [
        "audio_near_dup_pairs",
        "extraction_e2e_details",
        "extraction_e2e_headers",
        "image_near_dup_pairs",
        "video_near_dup_pairs",
    ]


def test_image_near_dup_pairs_query_lock(spark):
    """Value lock for the rows-only driver query: the corpus constants are
    deterministic pure-integer rasters, so the edge list must be exactly
    the designed 13 pairs (6 lossless PNG re-encodes at hamming 0, 4 tuned
    retouches at 1-3, 3 quality-90 JPEG re-encodes at 0-1) — a drift here
    means a codec or the hash changed, not the corpus."""
    from medical_ocr_service_spark.plans.entry_queries import QUERIES

    rows = QUERIES["image_near_dup_pairs"](spark, "unused").collect()
    got = [(r["id_a"], r["id_b"], r["hamming"]) for r in rows]
    assert got == [
        ("img00", "img00p", 0),
        ("img01", "img01p", 0),
        ("img02", "img02p", 0),
        ("img03", "img03p", 0),
        ("img04", "img04p", 0),
        ("img05", "img05p", 0),
        ("img06", "img06r", 3),
        ("img07", "img07r", 2),
        ("img08", "img08r", 1),
        ("img09", "img09r", 2),
        ("img10", "img10j", 0),
        ("img11", "img11j", 1),
        ("img12", "img12j", 1),
    ]


def test_audio_near_dup_pairs_query_lock(spark):
    """Value lock for the rows-only audio dedup query: the corpus constants
    are deterministic synthesized WAVs, so the edge list must be exactly the
    designed 6 pairs (three gain changes at hamming 0-1, one 16-bit
    re-encode at 0, one hum overlay at 1 plus its transitive gain edge) — a
    drift means the WAV codec or the fingerprint changed, not the corpus."""
    from medical_ocr_service_spark.plans.entry_queries import QUERIES

    rows = QUERIES["audio_near_dup_pairs"](spark, "unused").collect()
    got = [(r["id_a"], r["id_b"], r["hamming"]) for r in rows]
    assert got == [
        ("aud00", "aud00g", 0),
        ("aud00", "aud00h", 1),
        ("aud00g", "aud00h", 1),
        ("aud01", "aud01r", 0),
        ("aud03", "aud03g", 0),
        ("aud04", "aud04g", 1),
    ]


def test_video_near_dup_pairs_query_lock(spark):
    """Value lock for the rows-only video dedup query: two re-encode pairs
    at overlap 1.0 and one 4-of-6-frame partial edit at 2/3 (which also
    pairs with the re-encode of its base); the different cut, truncated
    container and opaque mp4 row never pair."""
    from medical_ocr_service_spark.plans.entry_queries import QUERIES

    rows = QUERIES["video_near_dup_pairs"](spark, "unused").collect()
    got = [(r["id_a"], r["id_b"], r["overlap"]) for r in rows]
    assert got == [
        ("vid0", "vid1", 1.0),
        ("vid0", "vid2", 0.666667),
        ("vid1", "vid2", 0.666667),
        ("vid4", "vid5", 1.0),
    ]


def test_chunk_documents_overlap_math(spark):
    from medical_ocr_service_spark.operators.text_analysis import (
        chunk_documents,
    )
    import pytest as _pytest

    text = " ".join(f"w{i}" for i in range(25))  # 25 tokens
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "")],
                               ["doc_id", "text"])
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=10, overlap=4)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # stride 6, 25 tokens -> max(1, ceil((25-4)/6)) = 4 chunks starting
    # 0,6,12,18 — a 5th chunk at start 24 would be FULLY CONTAINED in
    # chunk 3 (tokens 18-24), duplicating training content
    assert sorted(c for d, c in rows if d == 1) == [0, 1, 2, 3]
    assert rows[(1, 0)]["chunk_text"].split() == [f"w{i}" for i in range(10)]
    assert rows[(1, 1)]["chunk_text"].split() == [
        f"w{i}" for i in range(6, 16)
    ]  # 4-token overlap with chunk 0
    assert rows[(1, 3)]["n_tokens"] == 7  # final short chunk: tokens 18-24
    assert rows[(1, 3)]["chunk_text"].split() == [
        f"w{i}" for i in range(18, 25)
    ]  # every token covered exactly once past the overlap
    # short doc -> exactly one chunk; empty doc -> none
    assert sorted(c for d, c in rows if d == 2) == [0]
    assert rows[(2, 0)]["chunk_text"] == "a b"
    assert not [1 for d, _ in rows if d == 3]
    with _pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", chunk_tokens=5, overlap=5)
    # regression: 0 < len % stride <= overlap used to emit a trailing
    # chunk fully contained in its predecessor (21 tokens, chunk 30,
    # overlap 10 -> stride 20: old ceil(21/20) = 2 chunks, the second
    # just token 20 which chunk 0 already carries). Now exactly 1.
    df21 = spark.createDataFrame(
        [(9, " ".join(f"t{i}" for i in range(21)))], ["doc_id", "text"]
    )
    out21 = chunk_documents(
        df21, "text", "doc_id", chunk_tokens=30, overlap=10
    ).collect()
    assert len(out21) == 1 and out21[0]["n_tokens"] == 21


def test_ngram_topk_trigrams(spark):
    from medical_ocr_service_spark.operators.text_analysis import ngram_topk

    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b"), (3, "x")], ["doc_id", "text"]
    )
    out = {(r["gram"], r["n_occurrences"])
           for r in ngram_topk(df, "text", n=3, k=10).collect()}
    # doc1 trigrams: "a b c","b c a","c a b","a b c"; docs 2-3 too short
    assert out == {("a b c", 2), ("b c a", 1), ("c a b", 1)}


def test_exact_grouped_quantiles_matches_percentile(spark):
    from medical_ocr_service_spark.operators.datasets import (
        exact_grouped_quantiles,
    )

    rows = [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8]] + [
        ("b", v) for v in [10, 20, 30]
    ] + [("c", 5)]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {
        r["g"]: (r["n_rows"], r["q25"], r["q50"], r["q75"])
        for r in exact_grouped_quantiles(df, "g", "v").collect()
    }
    # a: h25 = 7*0.25 = 1.75 -> 2 + 0.75*(3-2) = 2.75; h50 = 3.5 -> 4.5;
    #    h75 = 5.25 -> 6.25.  b: 15/20/25.  c singleton: 5/5/5.
    assert got == {
        "a": (8, 2.75, 4.5, 6.25),
        "b": (3, 15.0, 20.0, 25.0),
        "c": (1, 5.0, 5.0, 5.0),
    }
    ref = {
        r["g"]: (r["p25"], r["p50"], r["p75"])
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.25)").alias("p25"),
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.75)").alias("p75"),
        )
        .collect()
    }
    assert {g: t[1:] for g, t in got.items()} == ref


def test_pmi_topk_promotes_rare_collocation(spark):
    from medical_ocr_service_spark.operators.text_analysis import pmi_topk

    # 'zq yw' co-occur ONLY with each other (perfect collocation) while
    # 'a b' pairs among the corpus-dominant tokens -> lift('zq yw') must
    # rank first even though 'a b' is far more frequent.
    rows = [(i, "a b a b a b") for i in range(10)] + [
        (100 + i, "zq yw") for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_topk(df, "text", k=5, min_pair_count=2).collect()
    assert out[0]["gram"] == "zq yw"
    # T=66 tokens, c(zq)=c(yw)=3, n_pair=3 -> lift = 3*66/(3*3) = 22.0
    assert out[0]["n_pair"] == 3
    assert abs(out[0]["lift"] - 22.0) < 1e-9
    # 'a b': n_pair=30, c(a)=c(b)=30 -> 30*66/900 = 2.2
    ab = next(r for r in out if r["gram"] == "a b")
    assert abs(ab["lift"] - 2.2) < 1e-9


def test_pmi_topk_min_pair_count_prunes(spark):
    from medical_ocr_service_spark.operators.text_analysis import pmi_topk

    df = spark.createDataFrame(
        [(1, "u v"), (2, "x y x y x y")], ["doc_id", "text"]
    )
    grams = {r["gram"] for r in pmi_topk(df, "text", k=10, min_pair_count=2).collect()}
    assert "u v" not in grams  # seen once < min_pair_count
    assert "x y" in grams


def test_dup_ngram_stats_cross_doc_and_within_doc_distinct(spark):
    from medical_ocr_service_spark.operators.dedup import duplicated_ngram_stats

    shared = "one two three four five"
    rows = [
        # doc 1 repeats the shared phrase twice -> the shingle still counts
        # ONCE per doc (distinct), and doc-frequency is 2 docs, not 3.
        (1, shared + " " + shared),
        (2, shared + " six seven eight nine ten"),
        (3, "alpha beta gamma delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in duplicated_ngram_stats(
            df, "text", "doc_id", n=5, min_docs=2, top=10
        ).collect()
    }
    assert 3 not in out  # no shingle shared with another doc
    # doc1: tokens = shared*2 (10 tokens) -> 6 shingle positions, some
    # colliding after distinct; the 'one two three four five' shingle is
    # duplicated (also in doc2). doc2 shares exactly that one shingle.
    assert out[2]["n_shingles"] == 6  # 10 tokens -> 6 distinct 5-grams
    assert out[2]["n_dup_shingles"] == 1
    assert abs(out[2]["dup_fraction"] - round(1 / 6, 9)) < 1e-12
    assert out[1]["n_dup_shingles"] == 1
    # doc ordering: higher fraction first (doc1 has fewer distinct shingles)
    fracs = [r["dup_fraction"] for r in out.values()]
    assert all(f > 0 for f in fracs)


def test_dup_ngram_stats_short_docs_excluded(spark):
    from medical_ocr_service_spark.operators.dedup import duplicated_ngram_stats

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
    )
    assert (
        duplicated_ngram_stats(df, "text", "doc_id", n=5, min_docs=2).count()
        == 0
    )


def test_group_diversity_simpson_values(spark):
    from medical_ocr_service_spark.operators.datasets import group_diversity_stats

    rows = (
        [(1, "x")] * 4  # degenerate: single class -> simpson 1.0
        + [(2, "x"), (2, "y"), (2, "x"), (2, "y")]  # balanced -> 0.5
        + [(3, "x"), (3, "x"), (3, "x"), (3, "y")]  # skewed -> 10/16
    )
    df = spark.createDataFrame(rows, ["uid", "cls"])
    out = {r["uid"]: r for r in group_diversity_stats(df, "uid", "cls").collect()}
    assert out[1]["simpson"] == 1.0 and out[1]["n_classes"] == 1
    assert abs(out[2]["simpson"] - 0.5) < 1e-12
    assert abs(out[3]["simpson"] - 0.625) < 1e-12
    assert out[3]["n_rows"] == 4
    # degenerate group sorts first
    first = group_diversity_stats(df, "uid", "cls").collect()[0]
    assert first["uid"] == 1


def test_pmi_topk_no_vocab_broadcast_hint(spark):
    """Same discipline as the bm25/familiarity scorers: the two unigram-
    count joins are unhinted (AQE decides; web-scale vocab would OOM a
    forced broadcast); only the 1-row corpus-total frame carries a hint,
    and the token/pair aggregates map-side combine."""
    from medical_ocr_service_spark.operators.text_analysis import pmi_topk

    rows = [(i, f"tok{i % 7} the and tok{i % 11}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_topk(df, "text", k=5, min_pair_count=1)
    qe = out._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 1
    assert "partial_" in qe.executedPlan().toString()


def test_dup_ngram_stats_fuzz_vs_bruteforce(spark):
    """duplicated_ngram_stats must equal the quadratic per-doc brute force
    (python sets of word 5-gram strings) on random word soups — including
    within-doc repeats, short docs, and docs that are pure copies."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from medical_ocr_service_spark.functions.similarity import round_half_up
    from medical_ocr_service_spark.operators.dedup import duplicated_ngram_stats

    word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
    doc = st.lists(word, min_size=0, max_size=12).map(" ".join)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(doc, min_size=1, max_size=7))
    def run(texts):
        n = 3
        shingle_sets = {}
        for i, t in enumerate(texts):
            w = [x for x in t.lower().split() if x]
            shingle_sets[i] = {
                " ".join(w[j : j + n]) for j in range(len(w) - n + 1)
            } if len(w) >= n else set()
        expected = {}
        for i, s in shingle_sets.items():
            if not s:
                continue
            dup = {
                g
                for g in s
                if any(g in shingle_sets[j] for j in shingle_sets if j != i)
            }
            if dup:
                expected[i] = (len(s), len(dup), round_half_up(len(dup) / len(s), 9))
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = {
            r["doc_id"]: (
                r["n_shingles"],
                r["n_dup_shingles"],
                r["dup_fraction"],
            )
            for r in duplicated_ngram_stats(
                df, "text", "doc_id", n=n, min_docs=2, top=100
            ).collect()
        }
        assert got == expected, (texts, got, expected)

    run()


def test_pmi_topk_fuzz_vs_bruteforce(spark):
    """pmi_topk must equal the brute-force count arithmetic on random
    token streams (Counter-based unigram/bigram counts, identical lift
    formula and tie-break)."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from medical_ocr_service_spark.functions.similarity import round_half_up
    from medical_ocr_service_spark.operators.text_analysis import pmi_topk

    word = st.sampled_from(["p", "q", "r", "s"])
    doc = st.lists(word, min_size=0, max_size=10).map(" ".join)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(doc, min_size=1, max_size=6))
    def run(texts):
        uni, bi = Counter(), Counter()
        for t in texts:
            w = [x for x in t.lower().split() if x]
            uni.update(w)
            bi.update(zip(w, w[1:]))
        t_total = sum(uni.values())
        rows = [
            (
                f"{a} {b}",
                c,
                round_half_up(
                    (float(c) * float(t_total)) / (float(uni[a]) * float(uni[b])), 6
                ),
            )
            for (a, b), c in bi.items()
            if c >= 2
        ]
        expected = sorted(rows, key=lambda r: (-r[2], -r[1], r[0]))[:10]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = [
            (r["gram"], r["n_pair"], r["lift"])
            for r in pmi_topk(df, "text", k=10, min_pair_count=2).collect()
        ]
        assert got == expected, (texts, got, expected)

    run()


def _md5_gate(key: str) -> int:
    import hashlib

    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16)


def test_mixture_sample_exact_membership(spark):
    """Temperature mixing: the kept set must equal the Python reference
    (same md5 gate, same integer thresholds) and the binding group must be
    kept whole."""
    from medical_ocr_service_spark.operators.datasets import mixture_sample

    rows = (
        [(i, "web") for i in range(40)]
        + [(100 + i, "books") for i in range(40)]
        + [(200 + i, "code") for i in range(20)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    weights = {"web": 1.0, "books": 1.0, "code": 4.0}
    out = mixture_sample(df, "source", weights, temperature=0.5)
    got = {(r["doc_id"], r["source"]) for r in out.collect()}

    # reference: p = (1,1,2)/4 -> T = min(40/.25, 40/.25, 20/.5) = 40
    # keep rates = (.25, .25, 1.0)
    target = {"web": 0.25, "books": 0.25, "code": 0.5}
    counts = {"web": 40, "books": 40, "code": 20}
    total = min(counts[g] / target[g] for g in counts)
    thr = {
        g: min(1 << 32, int(total * target[g] / counts[g] * (1 << 32)))
        for g in counts
    }
    expected = {
        (i, s) for i, s in rows if _md5_gate(str(i)) < thr[s]
    }
    assert got == expected
    # binding group kept whole
    assert sum(1 for _, s in got if s == "code") == 20
    # non-binding groups thinned to ~rate (exact set already checked)
    assert 0 < sum(1 for _, s in got if s == "web") < 40


def test_mixture_sample_temperature_limits(spark):
    from medical_ocr_service_spark.operators.datasets import mixture_sample

    rows = [(i, "a") for i in range(30)] + [(100 + i, "b") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    # t=0 flattens to uniform: p=(.5,.5), T=min(30/.5, 10/.5)=20 ->
    # keep rates (1/3, 1.0): all of 'b' survives
    out0 = mixture_sample(df, "source", {"a": 9.0, "b": 1.0}, temperature=0.0)
    assert out0.filter(F.col("source") == "b").count() == 10
    # t=1 with raw weights 9:1 -> p=(.9,.1), T=min(30/.9, 10/.1)=33.3 ->
    # 'a' binds (rate 1.0), b rate = 33.3*0.1/10 = 1/3
    out1 = mixture_sample(df, "source", {"a": 9.0, "b": 1.0}, temperature=1.0)
    assert out1.filter(F.col("source") == "a").count() == 30
    # groups outside the mix are dropped entirely
    extra = spark.createDataFrame([(999, "junk")], ["doc_id", "source"])
    out2 = mixture_sample(
        df.union(extra), "source", {"a": 1.0, "b": 1.0}, temperature=1.0
    )
    assert out2.filter(F.col("source") == "junk").count() == 0
