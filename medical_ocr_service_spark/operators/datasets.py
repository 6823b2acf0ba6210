"""Training-dataset assembly operators (beyond the reference's surface —
the operations a large-scale LLM training-data pipeline needs on top of
extraction/dedup/quality).

All JVM-side, all deterministic, all DuckDB-oracle-replayable:

  * hash_split      — train/val/test assignment from an md5-derived uniform
    (no RNG state: the same row lands in the same split on every run,
    every cluster size, and in the SQL oracle);
  * pack_contiguous — contiguous sequence packing: shard-local cumulative
    token counts folded into ~budget-sized bins (window cumsum partitioned
    by shard => parallel, no global sort);
  * contamination_pairs — train-vs-benchmark n-gram overlap detection
    (decontamination): docs sharing >= min_overlap distinct shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_shingles

HASH_DENOM = float(1 << 32)


def uniform_from_key(key) -> F.Column:
    """md5-derived uniform in [0, 1): first 8 hex chars as a 32-bit int over
    2^32 — bit-identical in Spark and DuckDB (('0x'||substr(md5(k),1,8))
    ::BIGINT / 4294967296.0)."""
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") / F.lit(
        HASH_DENOM
    )


def hash_split(
    df: DataFrame, key_col: str, fractions: dict[str, float] | None = None
) -> DataFrame:
    """Deterministic dataset split: adds `split_u` (the uniform) and `split`
    (label by cumulative fraction boundaries). Unlike randomSplit, the
    assignment is a pure function of the key — stable across runs, resumes,
    and cluster sizes, and joinable (a doc can never leak between train and
    test on a rerun)."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {fractions}")
    u = uniform_from_key(F.col(key_col))
    expr = None
    acc = 0.0
    labels = list(fractions.items())
    for name, frac in labels[:-1]:
        acc += frac
        cond = u < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(labels[-1][0])
        if expr is None
        else expr.otherwise(labels[-1][0])
    )
    return df.withColumn("split_u", F.round(u, 9)).withColumn("split", expr)


def pack_contiguous(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 64,
) -> DataFrame:
    """Contiguous sequence packing for training batches: rows are sharded by
    an md5 hash of the id (deterministic), ordered by id within the shard,
    and binned where the running token total crosses `budget` multiples.
    Output adds (shard, bin) — a pack is (shard, bin).

    Scale: the window is PARTITIONED by shard (n_shards reducers, no global
    sort, no single-partition exchange); at 10^12 docs raise n_shards to
    ~cores*waves. A document larger than `budget` occupies its own bin(s) —
    contiguous packing never splits a document."""
    shard = (
        F.conv(F.substring(F.md5(F.col(id_col)), 1, 8), 16, 10).cast("long")
        % n_shards
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df.withColumn("shard", shard)
    cum_before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return out.withColumn(
        "bin", F.floor(cum_before / F.lit(float(budget))).cast("long")
    )


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    min_overlap: int = 3,
) -> DataFrame:
    """Benchmark decontamination: (train_id, bench_id, n_shared) for pairs
    sharing >= min_overlap DISTINCT word k-shingles — the standard n-gram
    contamination test run before training.

    Scale: explode-join on the shingle (inner equi-join; the benchmark side
    is small by construction, so it broadcasts), then a counting groupBy —
    no cross join anywhere."""
    t = train.select(
        F.col(id_col).alias("train_id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    b = bench.select(
        F.col(id_col).alias("bench_id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    return (
        t.join(F.broadcast(b), "sh")
        .groupBy("train_id", "bench_id")
        .agg(F.countDistinct("sh").alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def stratified_downsample(
    df: DataFrame, stratum_col: str, key_col: str
) -> DataFrame:
    """Deterministic stratified downsampling to the MINORITY stratum size
    (class balancing before training). A row survives iff its md5-derived
    32-bit key hash clears a per-stratum integer threshold

        u32(key) < floor(min_count * 2^32 / stratum_count)

    so the expected kept size of every stratum is ~min_count. Everything is
    integer math on the same md5 hash hash_split uses: the decision is a
    pure function of (key, stratum census) — stable across runs, cluster
    sizes, and in the DuckDB oracle; no RNG, no sampleBy seed drift.

    Plan: the census groupBy is stratum-cardinality-sized (map-side
    combined); thresholds are a tiny frame cross-joined with the 1-row min
    and BROADCAST back onto the fact table — the filter is a narrow map, no
    fact-table shuffle. At 10^12 rows note min_count * 2^32 can exceed
    BIGINT; compute thresholds driver-side in Python ints (exact) if strata
    exceed ~2^31 rows.
    """
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("mn"))
    thr = counts.crossJoin(mn).withColumn(
        "thr", F.expr("(mn * CAST(4294967296 AS BIGINT)) DIV cnt")
    )
    u32 = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        df.join(F.broadcast(thr.select(stratum_col, "thr")), stratum_col)
        .filter(u32 < F.col("thr"))
        .drop("thr")
    )


def exact_ntile(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Exact equal-frequency bucketing (SQL ``ntile`` semantics) WITHOUT the
    single-partition global sort ntile() plans — the curriculum/difficulty
    binning step of a dataset pipeline (e.g. length deciles).

    A window ``ntile(B) OVER (ORDER BY v, id)`` funnels the whole corpus
    through ONE task. This operator gets the identical assignment from
    arithmetic on a value histogram instead:

      1. groupBy(value) count — histogram-sized (distinct values, not rows),
         map-side combined;
      2. a cumulative sum over the (tiny) histogram yields, per value, how
         many rows sort strictly before it — the only global sort is over
         DISTINCT values;
      3. broadcast-join the offsets back; global_rank = offset +
         row_number() over (PARTITION BY value ORDER BY id) — partitions are
         bounded by the count of EXACT ties, not corpus size;
      4. SQL ntile gives the FIRST (N mod B) buckets one extra row (not an
         even spread), so with q = N div B and rem = N mod B:
           rank <= rem*(q+1)  ->  bucket = (rank-1) div (q+1) + 1
           otherwise          ->  bucket = rem + (rank - rem*(q+1) - 1) div q + 1
         — pure integer math, reproducing the window spec exactly
         (pinned against ntile() itself in tests/test_pipeline_ops.py on an
         uneven 23-row/10-bucket split).

    Skew note: a corpus where one exact value holds a macroscopic row share
    (constant-length synthetic text) re-concentrates step 3; the fix is
    widening the histogram key to (value, hash-prefix of id) — not needed
    for natural length/score distributions.

    Returns df + ``bucket`` (int). Deterministic: ties order by id.

    NULL values: rows with a NULL ``value_col`` get a bucket too, exactly
    as ``ntile(B) OVER (ORDER BY v)`` assigns them — Spark's default ASC
    ordering puts NULLS FIRST, so they land in the lowest bucket(s). The
    histogram join is null-safe for this reason (a plain equi-join would
    COUNT the null rows in the offsets yet drop them from the output,
    shifting every other row's rank by the null count).
    """
    hist = df.groupBy(value_col).agg(F.count("*").alias("_c"))
    w_cum = Window.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # both windows run over the HISTOGRAM (distinct values), so the
    # single-partition warning they trigger is bounded by value cardinality,
    # not corpus size; carrying N on every offsets row replaces a third
    # fact-lineage scan + BroadcastNestedLoopJoin with columns in the same
    # broadcast.
    offsets = hist.select(
        value_col,
        F.coalesce(F.sum("_c").over(w_cum), F.lit(0)).alias("_before"),
        F.sum("_c").over(w_all).alias("_n_total"),
    )
    w_ties = Window.partitionBy(value_col).orderBy(id_col)
    offsets = offsets.withColumnRenamed(value_col, "_ntile_v")
    return (
        df.join(
            F.broadcast(offsets),
            F.col(value_col).eqNullSafe(F.col("_ntile_v")),
        )
        .drop("_ntile_v")
        .withColumn(
            "_rank", F.col("_before") + F.row_number().over(w_ties)
        )
        .withColumn(
            "bucket",
            F.expr(
                f"""CAST(CASE
                  WHEN _rank <= (_n_total % {int(n_buckets)})
                              * (_n_total DIV {int(n_buckets)} + 1)
                  THEN (_rank - 1) DIV (_n_total DIV {int(n_buckets)} + 1)
                  ELSE (_n_total % {int(n_buckets)})
                       + (_rank - (_n_total % {int(n_buckets)})
                                  * (_n_total DIV {int(n_buckets)} + 1) - 1)
                         DIV GREATEST(_n_total DIV {int(n_buckets)}, 1)
                END AS INT) + 1"""
            ),
        )
        .drop("_before", "_n_total", "_rank")
    )


def weighted_downsample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    rate_num: int = 1,
    rate_den: int = 1,
) -> DataFrame:
    """Deterministic weighted Bernoulli downsample: keep each row with
    probability (rate_num/rate_den) * weight/max_weight — the importance-
    weighted corpus thinning step (keep long/high-quality docs more often)
    with NO RNG state: the same row survives on every run, every cluster
    size, and in the SQL oracle.

    Gate: u32(md5(key)) < (w * rate_num * 2^32) DIV (max_w * rate_den) —
    pure BIGINT arithmetic (w * 2^32 needs w < 2^31; larger weights should
    be pre-scaled). Integral weight columns are used as-is; fractional
    columns (double/float/decimal quality scores) are fixed-point scaled
    first — w = ROUND(weight * 2^20) — so the keep probability w/max_w is
    preserved to ~1e-6 while the gate stays exact integer arithmetic (no
    cross-engine FP boundary ties; a bare cast('long') would truncate a
    [0,1] score column's max to 0 and keep nothing). The 1-row max
    broadcast-crossJoins; the fact table never shuffles — the plan is
    scan + broadcast + filter, same shape as stratified_downsample.

    Degenerate inputs degenerate safely: zero/negative weights gate at
    probability 0, and an all-zero (or empty) corpus yields a NULL divisor
    whose comparison is never true — the output is empty, not an error.
    """
    wtype = dict(df.dtypes)[weight_col]
    if wtype in ("double", "float") or wtype.startswith("decimal"):
        w_long = F.expr(f"CAST(ROUND({weight_col} * 1048576) AS BIGINT)")
    else:
        w_long = F.col(weight_col).cast("long")
    mx = df.agg(F.max(w_long).alias("_maxw"))
    u32 = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    # integer floor-division via expr DIV (Column has no // for BIGINT DIV)
    return (
        df.crossJoin(F.broadcast(mx))
        .withColumn("_wl", w_long)
        .filter(
            u32
            < F.expr(
                f"(_wl * CAST({int(rate_num)} AS BIGINT) * 4294967296)"
                f" DIV (_maxw * CAST({int(rate_den)} AS BIGINT))"
            )
        )
        .drop("_maxw", "_wl")
    )


def stratum_fixed_k_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    k: int,
    slack: int = 8,
) -> DataFrame:
    """EXACTLY min(k, stratum size) rows per stratum, chosen by md5(key)
    order — the deterministic fixed-size per-class sample (eval-set carving,
    per-source spot checks).

    A bare row_number() OVER (PARTITION BY stratum ORDER BY hash) funnels
    every stratum through ONE reducer. This plan bounds that: a broadcast
    census sets a per-stratum hash threshold of ~k*slack expected survivors
    (integer gate, same shape as stratified_downsample), the window then
    ranks only the surviving ~k*slack rows per stratum. With slack=8 the
    probability that fewer than k of a large stratum's rows pass the gate
    is astronomically small (Chernoff: exp(-k*slack/8) per stratum at the
    expectation's half-point); small strata (< k*slack rows) pass the gate
    entirely, so min(k, size) is exact there by construction. The gate and
    the rank use the SAME md5 order, so survivors' top-k equals the full
    stratum's top-k whenever >= k rows pass — determinism is unconditional,
    and the oracle replays both stages verbatim.
    """
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("_cnt"))
    u32 = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    budget = int(k) * int(slack)
    thr = F.expr(
        f"CASE WHEN _cnt <= {budget} THEN 4294967296 "
        f"ELSE (CAST({budget} AS BIGINT) * 4294967296) DIV _cnt END"
    )
    survivors = (
        df.join(F.broadcast(counts), stratum_col)
        .withColumn("_u32", u32)
        .filter(F.col("_u32") < thr)
    )
    w = Window.partitionBy(stratum_col).orderBy("_u32", key_col)
    return (
        survivors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(k))
        .drop("_cnt", "_u32", "_rn")
    )


def exact_grouped_median(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Exact per-group median (SQL quantile_cont(0.5) semantics) WITHOUT
    sorting the corpus: the same histogram order-statistics trick as
    exact_ntile.

    Delegates to exact_grouped_quantiles(qs=(0.5,)): the q=0.5 formula
    h = (N-1)/2, v_lo + (v_hi - v_lo)*frac reduces to the classic
    (v_lo + v_hi)/2 midpoint — for integer values < 2^53 every
    algebraically-equivalent form is the same exact double, matching
    every engine's interpolated median(). NULL values are ignored
    (SQL aggregate semantics) — see exact_grouped_quantiles.
    """
    out = exact_grouped_quantiles(df, group_col, value_col, qs=(0.5,))
    return out.withColumnRenamed("q50", "median_value")


def exact_grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact per-group continuous quantiles (SQL quantile_cont semantics)
    via the same histogram order-statistics plan as exact_grouped_median —
    the fact table shuffles once on (group, value), every window runs over
    DISTINCT values only, no corpus-wide sort.

    For each q: h = (N-1)*q, lower rank = floor(h)+1, and
    value = v_lo + (v_hi - v_lo) * (h - floor(h)). With integer values and
    q a dyadic rational (0.25/0.5/0.75), the interpolation is EXACTLY
    representable — any algebraically-equivalent formula an engine uses
    yields the identical double, so the result is hash-stable without
    rounding tricks. Output: group, n_rows, q25/q50/q75-style columns
    (named q<percent>).

    NULL values are IGNORED, exactly as SQL's median()/quantile_cont()
    aggregate semantics require (without this filter a NULL row would be
    counted in N and — ordering NULLS FIRST — shift every rank while
    contributing a NULL probe that max() skips, silently returning a
    neighboring value's quantile). n_rows is therefore the NON-NULL count.
    One documented divergence: a group whose values are ALL NULL is
    omitted from the output entirely, where SQL would emit the group with
    a NULL median — keeping it would cost an extra full-corpus aggregate
    for a row that carries no information.
    """
    df = df.where(F.col(value_col).isNotNull())
    hist = df.groupBy(group_col, value_col).agg(F.count("*").alias("_c"))
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        group_col,
        value_col,
        "_c",
        F.coalesce(F.sum("_c").over(w_cum), F.lit(0)).alias("_before"),
        F.sum("_c").over(w_all).alias("_n"),
    )

    def covers(rank):
        return (F.col("_before") < rank) & (
            (F.col("_before") + F.col("_c")) >= rank
        )

    aggs = [F.max("_n").alias("n_rows")]
    probed = cum
    for q in qs:
        tag = f"q{int(round(q * 100))}"
        h = (F.col("_n") - 1) * F.lit(float(q))
        lo_rank = F.floor(h) + 1
        # when h is integral the upper probe equals the lower (frac = 0
        # zeroes the interpolation term and rank stays in range)
        hi_rank = F.least(F.floor(h) + 2, F.col("_n"))
        probed = probed.withColumn(
            f"_{tag}_lo", F.when(covers(lo_rank), F.col(value_col))
        ).withColumn(
            f"_{tag}_hi", F.when(covers(hi_rank), F.col(value_col))
        ).withColumn(f"_{tag}_frac", h - F.floor(h))
        aggs.append(
            (
                F.max(f"_{tag}_lo")
                + (F.max(f"_{tag}_hi") - F.max(f"_{tag}_lo"))
                * F.max(f"_{tag}_frac")
            ).alias(tag)
        )
    return probed.groupBy(group_col).agg(*aggs)


def group_diversity_stats(
    df: DataFrame,
    group_col: str,
    class_col: str,
    top: int = 50,
) -> DataFrame:
    """Per-group class-balance profile: for each group, the event volume,
    the distinct class count, and the Simpson concentration index
    sum_i c_i^2 / N^2 (Herfindahl) — the probability two draws from the
    group land in the same class. 1.0 = single-class group, 1/n_classes =
    perfectly balanced. Data-curation use: flag users/domains/sources whose
    traffic is degenerate (bot loops, single-template spam) before they
    skew a training mix — the entropy screen of a curation pipeline, in the
    log-free form (entropy needs libm log(); Simpson ranks the same
    degeneracies with integer sums and one double division, so the score is
    bit-identical across engines).

    Exactness: per-(group, class) counts square in DECIMAL(38,0) BEFORE
    summing (BIGINT c*c would wrap silently past c ~ 3e9 — non-ANSI), and
    the one double division happens at the end. The decimal→double casts
    are exact below 2^53; above (a 10^8-event group), both engines'
    correctly-rounded conversions agree to the emitted 9 decimals.

    Plan (100 TB-safe): groupBy(group, class) then groupBy(group) — both
    map-side combined; the second shuffle is strictly smaller (one row per
    group-class). Top-k is a TakeOrdered under a total order
    (simpson desc, n_rows desc, group asc).
    """
    counts = df.groupBy(
        F.col(group_col).alias("g"), F.col(class_col).alias("cls")
    ).agg(F.count("*").alias("c"))
    per_group = counts.groupBy("g").agg(
        F.sum("c").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("_ss"),
    )
    simpson = F.col("_ss").cast("double") / (
        F.col("n_rows").cast("double") * F.col("n_rows").cast("double")
    )
    return (
        per_group.select(
            F.col("g").alias(group_col),
            "n_rows",
            "n_classes",
            F.round(simpson, 9).alias("simpson"),
        )
        .orderBy(F.desc("simpson"), F.desc("n_rows"), F.asc(group_col))
        .limit(top)
    )
