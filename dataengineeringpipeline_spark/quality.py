"""Declarative data-quality rule engine + profiling monitor + quarantine.

Re-expresses the reference's two DQ systems (SURVEY.md §2.2 P3, §2.4
A9–A12) Spark-first:

1. **Expression rules** — each rule is ``{name, expression, threshold}``
   where ``expression`` is a SQL boolean string (the reference evaluates
   them with one ``df.filter(expr).count()`` *per rule*,
   ``bronze_to_silver_orders.py:244-271``). Here all rules are compiled
   into **one aggregate pass** (``agg(sum(when(expr,1)...)) ...``) —
   fixing SURVEY.md §4.2-2: one scan total instead of one scan per rule.
   At 100 TB that's the difference between N full-table scans and 1.

2. **Monitor checks** — the pandas DQ monitor's data checks
   (``lambda/data_quality_monitor/lambda_function.py``) as distributed
   aggregates: null profile, duplicates, range violations, freshness,
   IQR outliers.

3. **Quarantine sink** — failed data written to a side path with audit
   columns + JSON report (``:455-496``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# 1. Expression rule engine (single-pass)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Rule:
    """A config-driven DQ rule: row passes if ``expression`` (Spark SQL
    boolean) evaluates true; the rule passes if pass-rate ≥ threshold.

    Mirrors the reference rule schema
    (``terraform/modules/glue/variables.tf:262-286``): name, expression
    (supports ``IS NOT NULL``, comparisons, ``IN``, ``RLIKE``), threshold.
    """

    name: str
    expression: str
    threshold: float = 0.95
    #: Optional ANSI-SQL spelling for oracle engines when the Spark SQL
    #: dialect differs (e.g. ``RLIKE`` → ``regexp_matches``).
    duck_expression: str | None = None


#: Default rule set for the silver orders table (mirrors the reference's
#: orders rules incl. the RLIKE regex rule, variables.tf:287-335).
ORDERS_RULES: tuple[Rule, ...] = (
    Rule("order_key_not_null", "order_key IS NOT NULL", 1.0),
    Rule("valid_status", "order_status IN ('O','F','P')", 0.95),
    Rule("positive_price", "total_price > 0", 0.99),
    Rule("order_date_in_range", "order_date BETWEEN DATE'1990-01-01' AND DATE'2005-12-31'", 0.99),
    Rule(
        "priority_format",
        "order_priority RLIKE '^[1-5]-'",
        0.95,
        duck_expression="regexp_matches(order_priority, '^[1-5]-')",
    ),
)

#: Pinned "now" for the events freshness check: 2024-01-31T00:00:00Z in µs.
EVENTS_AS_OF_US = 1_706_659_200_000_000


def pass_count(rule: Rule) -> Column:
    """``SUM(CASE WHEN expr THEN 1 ELSE 0 END)`` — null-safe (null→fail),
    identical to the reference's ``filter(expr).count()`` semantics."""
    return F.sum(F.when(F.expr(rule.expression), 1).otherwise(0)).cast("long")


def evaluate_rules(df: DataFrame, rules: tuple[Rule, ...]) -> DataFrame:
    """Single-pass rule evaluation → one report row per rule.

    One wide aggregate computes every rule's pass count + the total in a
    single scan; ``stack`` unpivots to the per-rule report. Columns:
    ``rule_name, passed_count, total_count, pass_rate, threshold, passed``.
    """
    aggs = [F.count(F.lit(1)).alias("total_count")]
    for i, r in enumerate(rules):
        aggs.append(pass_count(r).alias(f"_pass_{i}"))
    wide = df.agg(*aggs)

    stack_args = ", ".join(f"'{r.name}', _pass_{i}" for i, r in enumerate(rules))
    thresholds = F.create_map(
        *[x for r in rules for x in (F.lit(r.name), F.lit(float(r.threshold)))]
    )
    return (
        wide.select(
            F.expr(f"stack({len(rules)}, {stack_args}) as (rule_name, passed_count)"),
            "total_count",
        )
        .withColumn("pass_rate", F.col("passed_count") / F.col("total_count"))
        .withColumn("threshold", thresholds[F.col("rule_name")])
        .withColumn("passed", F.col("pass_rate") >= F.col("threshold"))
        .select("rule_name", "passed_count", "total_count", "pass_rate", "threshold", "passed")
        .orderBy("rule_name")
    )


def failing_rows(df: DataFrame, rules: tuple[Rule, ...]) -> DataFrame:
    """Rows failing ANY rule (for quarantine): single predicate, one scan."""
    cond = None
    for r in rules:
        bad = ~F.coalesce(F.expr(r.expression), F.lit(False))
        cond = bad if cond is None else (cond | bad)
    return df.filter(cond)


def referential_integrity(
    fact: DataFrame, fk: str, dim: DataFrame, pk: str, check_name: str
) -> DataFrame:
    """FK-validation via left-anti join (SURVEY.md §2.3 J4 — the
    reference validates FK sets row-by-row in Python,
    ``watermark_manager.py:394-433``; the distributed form is an
    anti-join, which Catalyst executes broadcast-side when the dim is
    small). Returns a 1-row report: checked/invalid counts."""
    invalid = fact.join(dim.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti")
    return (
        fact.agg(F.count(F.lit(1)).alias("checked_rows"))
        .crossJoin(invalid.agg(F.count(F.lit(1)).alias("invalid_rows")))
        .select(
            F.lit(check_name).alias("check_name"),
            "checked_rows",
            "invalid_rows",
            (F.col("invalid_rows") == 0).alias("passed"),
        )
    )


# ---------------------------------------------------------------------------
# 2. Monitor checks (data_quality_monitor re-expressed as Spark aggregates)
# ---------------------------------------------------------------------------


def null_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column null counts + percentage (A10) in one scan."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("total_count")] + [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"_n_{i}")
        for i, c in enumerate(cols)
    ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', _n_{i}" for i, c in enumerate(cols))
    return (
        wide.select(
            F.expr(f"stack({len(cols)}, {stack_args}) as (column_name, null_count)"),
            "total_count",
        )
        .withColumn("null_pct", F.col("null_count") / F.col("total_count") * 100.0)
        .orderBy("column_name")
    )


def duplicate_stats(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Duplicate profiling on key columns (A10): how many key groups have
    >1 row, and how many excess rows exist. One shuffle on the keys with
    map-side partial aggregation."""
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("distinct_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).cast("long").alias("duplicated_keys"),
        (F.sum("cnt") - F.count(F.lit(1))).cast("long").alias("excess_rows"),
    ).withColumn(
        "duplicate_pct", F.col("excess_rows") / F.col("total_rows") * 100.0
    )


@dataclass(frozen=True)
class RangeSpec:
    column: str
    min_value: float | None = None
    max_value: float | None = None
    allowed_values: tuple[str, ...] = ()


def range_violations(df: DataFrame, specs: list[RangeSpec]) -> DataFrame:
    """Per-column min/max/allowed-values violation counts (A12), one scan."""
    aggs = [F.count(F.lit(1)).alias("total_count")]
    for i, s in enumerate(specs):
        conds = []
        c = F.col(s.column)
        if s.min_value is not None:
            conds.append(c < F.lit(s.min_value))
        if s.max_value is not None:
            conds.append(c > F.lit(s.max_value))
        if s.allowed_values:
            conds.append(~c.isin(list(s.allowed_values)))
        cond = conds[0]
        for extra in conds[1:]:
            cond = cond | extra
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"_v_{i}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{s.column}', _v_{i}" for i, s in enumerate(specs))
    return wide.select(
        F.expr(f"stack({len(specs)}, {stack_args}) as (column_name, violation_count)"),
        "total_count",
    ).orderBy("column_name")


def freshness_check(
    df: DataFrame, ts_us_col: str, as_of_us: int, max_age_hours: float = 24.0
) -> DataFrame:
    """Data freshness vs a pinned ``as_of`` epoch-µs timestamp (A11; the
    reference compares against ``now()`` — pinned for reproducibility).
    Pure integer/double arithmetic — no timezone dependence."""
    return (
        df.agg(F.max(ts_us_col).cast("long").alias("latest_ts_us"))
        .withColumn("age_hours", (F.lit(as_of_us) - F.col("latest_ts_us")) / F.lit(3_600_000_000.0))
        .withColumn("is_fresh", F.col("age_hours") <= max_age_hours)
    )


def iqr_outlier_bounds(
    df: DataFrame, column: str, exact: bool = True, accuracy: int = 10_000
) -> DataFrame:
    """IQR outlier detection (A9): percentiles (Q1/Q3), bounds
    Q1−1.5·IQR / Q3+1.5·IQR, outlier count, in two passes (quantile +
    count).

    ``exact=True`` uses exact ``percentile`` (full sort of the column —
    kept for oracle parity and small tables). At 100 TB set
    ``exact=False``: ``approx_percentile`` is a single-pass mergeable
    KLL-style sketch — no sort, bounded memory per partition, rank error
    ≤ 1/``accuracy`` — which only perturbs the two cut points; the
    outlier count itself is still an exact scan against those bounds.
    """
    if exact:
        q1c = F.expr(f"percentile({column}, 0.25)")
        q3c = F.expr(f"percentile({column}, 0.75)")
    else:
        q1c = F.expr(f"approx_percentile({column}, 0.25, {accuracy})").cast("double")
        q3c = F.expr(f"approx_percentile({column}, 0.75, {accuracy})").cast("double")
    q = df.agg(
        q1c.alias("q1"),
        q3c.alias("q3"),
        F.count(F.lit(1)).alias("total_count"),
    ).withColumn("iqr", F.col("q3") - F.col("q1"))
    bounds = q.select(
        "q1",
        "q3",
        "total_count",
        (F.col("q1") - 1.5 * F.col("iqr")).alias("lower_bound"),
        (F.col("q3") + 1.5 * F.col("iqr")).alias("upper_bound"),
    )
    counted = df.crossJoin(F.broadcast(bounds)).agg(
        F.first("q1").alias("q1"),
        F.first("q3").alias("q3"),
        F.first("lower_bound").alias("lower_bound"),
        F.first("upper_bound").alias("upper_bound"),
        F.first("total_count").alias("total_count"),
        F.sum(
            F.when((F.col(column) < F.col("lower_bound")) | (F.col(column) > F.col("upper_bound")), 1).otherwise(0)
        )
        .cast("long")
        .alias("outlier_count"),
    )
    return counted.withColumn("outlier_pct", F.col("outlier_count") / F.col("total_count") * 100.0)


# ---------------------------------------------------------------------------
# 3. Quarantine sink (S9)
# ---------------------------------------------------------------------------


def quarantine(
    df: DataFrame,
    rules: tuple[Rule, ...],
    lake,
    table: str,
    source_system: str = "engine",
) -> tuple[str, str]:
    """Write rule-failing rows + JSON quality report to the quarantine
    layer (``data_quality_monitor/lambda_function.py:455-496``)."""
    bad = failing_rows(df, rules).withColumn(
        "quarantine_timestamp", F.current_timestamp()
    ).withColumn("source_system", F.lit(source_system))
    data_path = lake.write(bad, "quarantine", table)
    report = evaluate_rules(df, rules)
    report_path = lake.write_json_report(report, "quarantine", f"{table}_report")
    return data_path, report_path


def daily_volume_anomalies(
    df: DataFrame,
    date_col: str = "order_date",
    window_days: int = 7,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Volume-anomaly detection: each day's row count z-scored against
    the trailing ``window_days`` days — the "did yesterday's load drop
    to half?" check a pipeline owner alerts on (the reference's DQ suite
    profiles static ranges only; this adds the time dimension).

    The trailing mean/std come from exact integer window sums
    (``Σx, Σx², n``) with the variance expanded as
    ``(Σx² − n·mean²)/(n−1)`` in a fixed expression order — bit-identical
    in any engine, unlike built-in ``stddev`` whose streaming update
    order is implementation-defined. Days with fewer than 2 trailing
    observations emit NULL z (never flagged). One shuffle (the daily
    count) + a per-day window over ~365 rows/year of history.
    """
    from pyspark.sql import Window

    daily = df.groupBy(F.col(date_col).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("rows")
    )
    w = Window.orderBy("day").rowsBetween(-window_days, -1)
    n = F.count(F.lit(1)).over(w).cast("long")
    sx = F.sum("rows").over(w).cast("long")
    sxx = F.sum(F.col("rows") * F.col("rows")).over(w).cast("long")
    mean = sx / n
    var = (sxx - n * mean * mean) / (n - 1)
    z = F.when(
        (n >= 2) & (var > 0), (F.col("rows") - mean) / F.sqrt(var)
    )
    return (
        daily.select(
            "day",
            "rows",
            F.when(n >= 1, mean).alias("trailing_mean"),
            F.when((n >= 2) & (var > 0), F.sqrt(var)).alias("trailing_std"),
            z.alias("z_score"),
        )
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("z_score")) > F.lit(z_threshold), F.lit(False)),
        )
        .orderBy("day")
    )


def category_drift(
    df: DataFrame,
    category_col: str,
    ts_col: str,
    split: str,
    stable_below: float = 0.1,
    major_above: float = 0.25,
) -> DataFrame:
    """Distribution-drift monitor: the categorical mix before vs after
    ``split``, with the total-variation distance ``½·Σ|p_base − p_cur|``
    as the headline drift score and a PSI-style band on it — the "did
    the upstream mix shift under me?" check that sits next to
    :func:`daily_volume_anomalies` (volume drift) in a monitoring suite.

    TV distance instead of PSI deliberately: PSI's per-bucket ``ln``
    ties the score to the engine's libm (the HLL estimator documents the
    JVM-vs-DuckDB last-ulp divergence), while TV is pure arithmetic —
    the numerator ``Σ|base_n·N_cur − cur_n·N_base|`` stays in exact
    integers (order-independent), and one double division at the end
    makes the score bit-identical in any engine. One conditional
    aggregation pass (no second scan for the windows), an all-rows
    window for the totals over ~|categories| rows.
    """
    from pyspark.sql import Window

    is_base = F.col(ts_col) < F.lit(split)
    per = df.groupBy(F.col(category_col).alias("category")).agg(
        F.coalesce(F.sum(F.when(is_base, 1)), F.lit(0)).cast("long").alias("base_n"),
        F.coalesce(F.sum(F.when(~is_base, 1)), F.lit(0)).cast("long").alias("cur_n"),
    )
    w = Window.partitionBy()
    nb = F.sum("base_n").over(w).cast("long")
    nc = F.sum("cur_n").over(w).cast("long")
    both = (nb > 0) & (nc > 0)
    numer = F.abs(F.col("base_n") * nc - F.col("cur_n") * nb)
    tv = F.when(
        both,
        F.sum(numer).over(w).cast("double")
        / (F.lit(2.0) * nb.cast("double") * nc.cast("double")),
    )
    # an empty period means "no comparison", not a job-killing ANSI
    # divide-by-zero: shares/tv go NULL and the band reports 'undefined'
    return (
        per.select(
            "category",
            "base_n",
            "cur_n",
            F.when(both, F.col("base_n").cast("double") / nb.cast("double")).alias(
                "base_share"
            ),
            F.when(both, F.col("cur_n").cast("double") / nc.cast("double")).alias(
                "cur_share"
            ),
            F.when(
                both,
                F.col("cur_n").cast("double") / nc.cast("double")
                - F.col("base_n").cast("double") / nb.cast("double"),
            ).alias("share_delta"),
            tv.alias("tv_distance"),
        )
        .withColumn(
            "drift_band",
            F.when(F.col("tv_distance").isNull(), F.lit("undefined"))
            .when(F.col("tv_distance") < stable_below, F.lit("stable"))
            .when(F.col("tv_distance") < major_above, F.lit("moderate"))
            .otherwise(F.lit("major")),
        )
        .orderBy("category")
    )


DRIFT_PERCENTILES = (0.1, 0.25, 0.5, 0.75, 0.9)


def numeric_drift(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    split: str,
    percentiles: tuple[float, ...] = DRIFT_PERCENTILES,
    scale: int = 100,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Numeric-distribution drift: the quantile grid of ``value_col``
    before vs after ``split``, one row per percentile with the absolute
    gap — the numeric sibling of :func:`category_drift` (a KS-flavored
    readout on exact quantiles instead of a binned PSI, whose per-bucket
    ``ln`` would tie the score to libm).

    Values are scaled to integers first (``scale=100`` = cents for
    2-decimal money columns), the same recipe that makes
    ``doc_length_distribution``'s grid bit-exact across engines: exact
    ``percentile`` over ints interpolates identically everywhere.
    Exact percentile buffers each side's values; ``exact=False`` swaps
    in ``percentile_approx`` (Spark's KLL-style mergeable sketch, error
    bounded by ``1/accuracy`` in rank) — the warehouse-scale path: each
    side becomes a bounded-memory map-side sketch merge instead of a
    per-group value buffer, at the cost of oracle bit-exactness (the
    grid shape and ordering are identical; values are rank-approximate,
    returned as exact-domain bigints cast to double). Two aggregations
    (one per side, map-side partials), one tiny result join.

    Returns (p, base_q, cur_q, abs_gap) ordered by p, quantities in the
    scaled integer domain (doubles via interpolation)."""
    pct_fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else f", {accuracy}"

    def side(pred) -> DataFrame:
        return df.filter(pred).agg(
            F.expr(
                f"{pct_fn}(CAST(round({value_col} * {scale}) AS BIGINT), "
                f"array({', '.join(str(p) for p in percentiles)}){acc})"
            ).alias("qs")
        )

    base = side(F.col(ts_col) < split).select(
        F.posexplode("qs").alias("i", "base_q")
    ).withColumn("base_q", F.col("base_q").cast("double"))
    cur = side(F.col(ts_col) >= split).select(
        F.posexplode("qs").alias("i", "cur_q")
    ).withColumn("cur_q", F.col("cur_q").cast("double"))
    ps = F.array(*[F.lit(float(p)) for p in percentiles])
    return (
        base.join(cur, "i")
        .select(
            F.element_at(ps, F.col("i") + 1).alias("p"),
            "base_q",
            "cur_q",
            F.abs(F.col("cur_q") - F.col("base_q")).alias("abs_gap"),
        )
        .orderBy("p")
    )


def _stats_counter_aggs(fields) -> tuple[list, list]:
    """Per-column MERGEABLE counter aggregates — everything in
    :func:`table_stats` except the distinct counts (row/non-null counts,
    normalized min/max, string-length sums all fold by SUM/MIN/MAX) —
    plus per-column stack refs ``(name, nn, mn, mx, mns, mxs, sl)``.
    Shared by :func:`table_stats` (batch ANALYZE) and
    :func:`stats_counter_partials` (streaming/incremental ANALYZE), so
    the two normalize values with the IDENTICAL expressions and the
    merged partials reproduce the batch stats bit-for-bit."""
    num_types = {"byte", "short", "integer", "long", "float", "double", "decimal"}
    null_d = "CAST(NULL AS DOUBLE)"
    null_s = "CAST(NULL AS STRING)"
    aggs = [F.count(F.lit(1)).cast("long").alias("_rows")]
    refs = []
    for i, f in enumerate(fields):
        c = f.name
        t = f.dataType.typeName()
        aggs.append(F.count(c).cast("long").alias(f"_nn_{i}"))
        if t in num_types or t.startswith("decimal"):
            aggs.append(F.min(c).cast("double").alias(f"_mn_{i}"))
            aggs.append(F.max(c).cast("double").alias(f"_mx_{i}"))
            mn, mx, mns, mxs, sl = f"_mn_{i}", f"_mx_{i}", null_s, null_s, "CAST(NULL AS BIGINT)"
        elif t in ("timestamp", "timestamp_ntz"):
            # tz-free epoch µs, same dialect-portable forms as
            # datalake.raw_ts_us_expr: NTZ diffs against the NTZ epoch
            # (never consults the session timezone), UTC-adjusted uses
            # the absolute-instant unix_micros
            if t == "timestamp_ntz":
                us = (
                    f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {{m}}({c}))"
                )
            else:
                us = f"unix_micros({{m}}({c}))"
            aggs.append(F.expr(us.format(m="min")).cast("double").alias(f"_mn_{i}"))
            aggs.append(F.expr(us.format(m="max")).cast("double").alias(f"_mx_{i}"))
            mn, mx, mns, mxs, sl = f"_mn_{i}", f"_mx_{i}", null_s, null_s, "CAST(NULL AS BIGINT)"
        elif t == "date":
            aggs.append(F.datediff(F.min(c), F.lit("1970-01-01")).cast("double").alias(f"_mn_{i}"))
            aggs.append(F.datediff(F.max(c), F.lit("1970-01-01")).cast("double").alias(f"_mx_{i}"))
            mn, mx, mns, mxs, sl = f"_mn_{i}", f"_mx_{i}", null_s, null_s, "CAST(NULL AS BIGINT)"
        else:  # string-like
            aggs.append(F.min(c).cast("string").alias(f"_mns_{i}"))
            aggs.append(F.max(c).cast("string").alias(f"_mxs_{i}"))
            aggs.append(F.sum(F.length(c)).cast("long").alias(f"_sl_{i}"))
            mn, mx, mns, mxs, sl = null_d, null_d, f"_mns_{i}", f"_mxs_{i}", f"_sl_{i}"
        refs.append((c, f"_nn_{i}", mn, mx, mns, mxs, sl))
    return aggs, refs


def table_stats(df: DataFrame, exact: bool = True) -> DataFrame:
    """ANALYZE-style per-column table statistics — the catalog stats a
    cost-based optimizer (and a data engineer sizing a join) feeds on:
    row count, null count, distinct count, min/max (numeric and
    temporal columns in one normalized double domain, strings as
    strings), and mean string length.

    Two aggregation rows — the distinct counts alone in one agg, every
    non-distinct stat in another — crossJoined (1×1) and stacked
    map-only to long form. Keeping min/max/count OUT of the distinct
    aggregate matters: Spark plans multi-column distinct via Expand
    (one replicated row per distinct column), and a combined agg drags
    every other stat's machinery through that replication (measured 4×:
    3.3s → 0.9s on the sf0.1 orders table). ``exact=True`` (the
    oracle-parity mode) uses ``countDistinct`` — what ``ANALYZE TABLE
    ... COMPUTE STATISTICS`` pays; at warehouse scale flip
    ``exact=False`` for ``approx_count_distinct`` (HLL sketch, single
    pass, mergeable — the same exact/approx dial as ``numeric_drift``
    and ``doc_length_distribution``).

    Timestamps normalize to epoch microseconds and dates to epoch days
    (exact integers < 2^53, so the double column is lossless).
    Returns (column_name, rows, non_null, nulls, ndv, min_num, max_num,
    min_str, max_str, avg_len) ordered by column_name.
    """
    aggs, refs = _stats_counter_aggs(df.schema.fields)
    ndv_aggs = []
    for i, f in enumerate(df.schema.fields):
        ndv = (
            F.countDistinct(f.name) if exact else F.approx_count_distinct(f.name, 0.01)
        )
        ndv_aggs.append(ndv.cast("long").alias(f"_ndv_{i}"))
    pieces = [
        f"'{c}', {nn}, _ndv_{i}, {mn}, {mx}, {mns}, {mxs}, {sl}"
        for i, (c, nn, mn, mx, mns, mxs, sl) in enumerate(refs)
    ]
    wide = df.agg(*aggs).crossJoin(df.agg(*ndv_aggs))
    stacked = wide.select(
        "_rows",
        F.expr(
            f"stack({len(pieces)}, {', '.join(pieces)}) AS "
            "(column_name, non_null, ndv, min_num, max_num, min_str, max_str, _sum_len)"
        ),
    )
    return stacked.select(
        "column_name",
        F.col("_rows").alias("rows"),
        "non_null",
        (F.col("_rows") - F.col("non_null")).cast("long").alias("nulls"),
        "ndv",
        "min_num",
        "max_num",
        "min_str",
        "max_str",
        (F.col("_sum_len").cast("double") / F.col("non_null").cast("double")).alias(
            "avg_len"
        ),
    ).orderBy("column_name")


def stats_counter_partials(df: DataFrame) -> DataFrame:
    """Mergeable half of an incremental ANALYZE: the per-column counter
    statistics of ONE row slice (a micro-batch, a partition, a delta),
    long-form ``(column_name, rows, non_null, min_num, max_num, min_str,
    max_str, sum_len)``. Every column folds by SUM or MIN/MAX, so
    partials from disjoint slices merge into exactly what
    :func:`table_stats` computes over the union — the same IVM trick as
    ``ivm.sales_partials``, applied to catalog statistics."""
    aggs, refs = _stats_counter_aggs(df.schema.fields)
    pieces = [
        f"'{c}', {nn}, {mn}, {mx}, {mns}, {mxs}, {sl}"
        for (c, nn, mn, mx, mns, mxs, sl) in refs
    ]
    stacked = df.agg(*aggs).select(
        "_rows",
        F.expr(
            f"stack({len(pieces)}, {', '.join(pieces)}) AS "
            "(column_name, non_null, min_num, max_num, min_str, max_str, sum_len)"
        ),
    )
    return stacked.select(
        "column_name",
        F.col("_rows").alias("rows"),
        "non_null",
        "min_num",
        "max_num",
        "min_str",
        "max_str",
        "sum_len",
    )


def _canon_value_str(col: str, dtype: str) -> str:
    """String canonicalization of a column for distinct-value state:
    injective-equivalent to grouping semantics. Floats widen to double
    and add ``0.0`` so ``-0.0`` collapses onto ``0.0`` (grouping already
    treats them as equal; their strings otherwise differ)."""
    if dtype in ("double", "float"):
        return f"CAST((CAST({col} AS DOUBLE) + 0.0d) AS STRING)"
    return f"CAST({col} AS STRING)"


def stats_distinct_partials(df: DataFrame) -> DataFrame:
    """The non-mergeable half of an incremental ANALYZE, made mergeable
    the way every exact streaming-distinct is: keep the DISTINCT VALUES
    themselves, long-form ``(column_name, value)`` with values
    canonicalized to strings (Spark's cast is round-trippable for the
    numeric/temporal types here, so the union's per-column distinct
    count equals :func:`table_stats`'s exact ``ndv``). One map-side
    stack pass + one distinct shuffle per slice; state is O(Σ column
    NDVs) — the irreducible cost of EXACT distinct counts. At warehouse
    scale flip the caller to sketch mode (``table_stats(exact=False)``'s
    HLL dial) when ±1% ndv is acceptable.

    Floating columns are normalized before the cast (``+ 0.0`` after a
    double widening): grouping treats ``-0.0`` and ``0.0`` as one value
    but their strings differ, so without the normalization the merged
    ndv could exceed ``countDistinct`` on data containing ``-0.0``
    (all NaNs already canonicalize to one ``'NaN'`` string, matching
    grouping's all-NaNs-equal rule)."""
    n = len(df.columns)
    pairs = ", ".join(
        f"'{c}', {_canon_value_str(c, t)}" for c, t in df.dtypes
    )
    return (
        df.select(F.expr(f"stack({n}, {pairs}) AS (column_name, value)"))
        .where(F.col("value").isNotNull())
        .distinct()
    )


def stats_ndv_sketch_partials(df: DataFrame) -> DataFrame:
    """The 100 TB dial for the distinct half of an incremental ANALYZE:
    per-column **HLL sketches** (Datasketches via ``hll_sketch_agg``)
    instead of distinct-value state — constant bytes per column per
    slice, union-mergeable, ±~2% at the default lgConfigK. One agg pass
    (no Expand), values canonicalized to strings exactly like
    :func:`stats_distinct_partials` (same float ``-0.0`` collapse) so
    the two dials estimate the same quantity. Long-form
    ``(column_name, ndv_sketch binary)``."""
    aggs = [
        F.hll_sketch_agg(F.expr(_canon_value_str(c, t))).alias(f"_s_{i}")
        for i, (c, t) in enumerate(df.dtypes)
    ]
    pieces = ", ".join(f"'{c}', _s_{i}" for i, c in enumerate(df.columns))
    return df.agg(*aggs).select(
        F.expr(
            f"stack({len(df.columns)}, {pieces}) AS (column_name, ndv_sketch)"
        )
    )


def ndv_from_sketches(partials: DataFrame) -> DataFrame:
    """Union-merge stacked HLL partials to per-column approximate
    distinct counts — the merge is sketch union (commutative,
    idempotent), so replayed or re-ordered slices cannot bias it."""
    return partials.groupBy("column_name").agg(
        F.hll_sketch_estimate(F.hll_union_agg("ndv_sketch"))
        .cast("long")
        .alias("ndv_approx")
    )


def merge_stats_counters(partials: DataFrame) -> DataFrame:
    """THE merge for counter partials — counter addition plus min/max
    (exact longs/normalized doubles, so merge order cannot perturb the
    result)."""
    return partials.groupBy("column_name").agg(
        F.sum("rows").alias("rows"),
        F.sum("non_null").alias("non_null"),
        F.min("min_num").alias("min_num"),
        F.max("max_num").alias("max_num"),
        F.min("min_str").alias("min_str"),
        F.max("max_str").alias("max_str"),
        F.sum("sum_len").alias("sum_len"),
    )


def stats_from_partials(counters: DataFrame, distincts: DataFrame) -> DataFrame:
    """Fold stacked partials back to the :func:`table_stats` shape —
    counters re-aggregate, ndv is the per-column distinct-value count
    (left join + 0 default keeps all-null columns at ndv=0 like
    ``countDistinct``). Output is bit-identical to ``table_stats`` over
    the union of the slices (tested), so anything consuming ANALYZE
    output — :func:`stats_drift_from_stats`, the join advisor — can run
    off incrementally-maintained statistics."""
    c = merge_stats_counters(counters)
    n = (
        distincts.distinct()
        .groupBy("column_name")
        .agg(F.count(F.lit(1)).cast("long").alias("ndv"))
    )
    return (
        c.join(n, "column_name", "left")
        .select(
            "column_name",
            "rows",
            "non_null",
            (F.col("rows") - F.col("non_null")).cast("long").alias("nulls"),
            F.coalesce("ndv", F.lit(0).cast("long")).alias("ndv"),
            "min_num",
            "max_num",
            "min_str",
            "max_str",
            (
                F.col("sum_len").cast("double") / F.col("non_null").cast("double")
            ).alias("avg_len"),
        )
        .orderBy("column_name")
    )


# -- privacy: k-anonymous aggregate release ----------------------------------


def k_anonymous_release(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    measure_col: str,
    k: int = 5,
) -> DataFrame:
    """Release aggregate rows ONLY for groups backed by at least ``k``
    distinct individuals — the k-anonymity gate a privacy review applies
    before publishing grouped statistics (suppressed cells never leave
    the engine; pair with :func:`k_anon_audit` for the accounting and
    ``Lake.purge_keys`` / PII redaction for the rest of the privacy
    surface).

    One aggregation over the fact: count/sum combine map-side; the
    distinct-individual count is the usual two-phase expand. The ``>= k``
    filter runs on the aggregate (group-cardinality rows), so the
    release costs the same as the unguarded summary at any scale.
    """
    from .functions import money_sum

    agg = df.groupBy(*group_cols).agg(
        F.countDistinct(id_col).alias("n_individuals"),
        F.count(F.lit(1)).alias("n_rows"),
        money_sum(measure_col, "total_value"),
    )
    return agg.filter(F.col("n_individuals") >= k).orderBy(*group_cols)


def k_anon_audit(
    df: DataFrame, group_cols: list[str], id_col: str, k: int = 5
) -> DataFrame:
    """The suppression accounting for :func:`k_anonymous_release`: one
    row of (k, released/suppressed group counts, suppressed row mass in
    per-mille) — the gauge that tells a data owner whether the chosen
    grouping is publishable or needs coarsening. Integer per-mille, no
    float division."""
    g = df.groupBy(*group_cols).agg(
        F.countDistinct(id_col).alias("n_individuals"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    rel = F.col("n_individuals") >= k
    sums = g.agg(
        F.sum(F.when(rel, 1).otherwise(0)).alias("released_groups"),
        F.sum(F.when(~rel, 1).otherwise(0)).alias("suppressed_groups"),
        F.sum(F.when(~rel, F.col("n_rows")).otherwise(0)).alias("suppressed_rows"),
        F.sum("n_rows").alias("_total_rows"),
    )
    return sums.select(
        F.lit(k).alias("k"),
        "released_groups",
        "suppressed_groups",
        "suppressed_rows",
        # integer div: double-division + long cast would TRUNCATE here
        # but ROUND in DuckDB — the documented parity trap
        F.expr("(suppressed_rows * 1000) div _total_rows").alias(
            "suppressed_rows_pm"
        ),
    )


def stats_drift(old_df: DataFrame, new_df: DataFrame, exact: bool = True) -> DataFrame:
    """ANALYZE-to-ANALYZE drift: per column, how the new snapshot's
    catalog statistics moved against the old — row-count ratio, null
    rate shift, distinct-count ratio (all integer per-mille), and
    whether the value range widened at either end. The schema-evolution
    and distribution-shift gauge a nightly snapshot diff publishes,
    computed entirely from two :func:`table_stats` outputs —
    metadata-sized rows, never the facts — so at 100 TB the comparison
    costs two ANALYZE passes that were likely already running.

    Ratio guards: a per-mille is NULL when its denominator is 0 (empty
    old snapshot / all-null column) rather than a misleading 0.
    """
    return stats_drift_from_stats(
        table_stats(old_df, exact=exact), table_stats(new_df, exact=exact)
    )


def stats_drift_from_stats(old_stats: DataFrame, new_stats: DataFrame) -> DataFrame:
    """:func:`stats_drift` fed from two already-computed
    :func:`table_stats` frames — the analyze-once-diff-many face: the
    old side is a PERSISTED stats snapshot (a dated lake table), the new
    side either a fresh ANALYZE or merged incremental partials
    (:func:`stats_from_partials`), and the diff itself touches only
    metadata-sized rows."""
    cols = ("rows", "nulls", "ndv", "min_num", "max_num", "min_str", "max_str")
    old = old_stats.select(
        "column_name", *[F.col(c).alias(f"old_{c}") for c in cols]
    )
    new = new_stats.select(
        "column_name", *[F.col(c).alias(f"new_{c}") for c in cols]
    )
    j = old.join(new, "column_name")
    widen_low = F.coalesce(
        F.col("new_min_num") < F.col("old_min_num"), F.lit(False)
    ) | F.coalesce(F.col("new_min_str") < F.col("old_min_str"), F.lit(False))
    widen_high = F.coalesce(
        F.col("new_max_num") > F.col("old_max_num"), F.lit(False)
    ) | F.coalesce(F.col("new_max_str") > F.col("old_max_str"), F.lit(False))
    return j.select(
        "column_name",
        "old_rows",
        "new_rows",
        F.expr(
            "CASE WHEN old_rows > 0 THEN (new_rows * 1000) div old_rows END"
        ).alias("rows_ratio_pm"),
        F.expr(
            "CASE WHEN old_rows > 0 THEN (old_nulls * 1000) div old_rows END"
        ).alias("null_pm_old"),
        F.expr(
            "CASE WHEN new_rows > 0 THEN (new_nulls * 1000) div new_rows END"
        ).alias("null_pm_new"),
        F.expr(
            "CASE WHEN old_ndv > 0 THEN (new_ndv * 1000) div old_ndv END"
        ).alias("ndv_ratio_pm"),
        widen_low.alias("min_widened"),
        widen_high.alias("max_widened"),
    ).orderBy("column_name")
