"""Aggregation operators (SURVEY §2.4 A1-A10) and the Gold recap assembly.

Semantics pinned from the reference (SURVEY §7.2 watch-list):

* A8: ``sum`` of an empty/all-null measure is **0.0** while avg/min/max are
  null (daily_compile_weather.py:71-78) → coalesce ONLY the sum.
* A6: ``statistics.mode`` returns the first value reaching the max count in
  minute order → deterministic (count DESC, first-seen ASC, value ASC)
  tie-break, not Spark's arbitrary-tie ``F.mode``.
* A4: averages rounded to 2 dp (daily_compile_weather.py:71,74,75).
* A9: nested arrays are built with collect_list(struct) + array_sort —
  ordering is explicit, never relied on from shuffle order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def deterministic_mode(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    order_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """A6: per-group mode with the reference's tie-break — among values tied
    on count, the one seen earliest (min ``order_col``), then lexicographic.

    Two-phase: partial-aggregable groupBy counts (map-side combine keeps the
    shuffle small at scale), then a per-key window over the *distinct values*
    only (tiny partitions — |values| rows, not |rows|).
    """
    out = out_col or f"{value_col}_mode"
    counted = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*keys, value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min(order_col).alias("__first"))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("__cnt").desc(), F.col("__first").asc(), F.col(value_col).asc()
    )
    return (
        counted.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*keys, F.col(value_col).alias(out))
    )


def hourly_agg(obs: DataFrame, *extra: Column) -> DataFrame:
    """A4/A5/A8 per (date, location, hour) over Silver rows
    (daily_compile_weather.py:60-94). Spark aggregates ignore nulls natively
    (P9's non-null comprehension is free); only the sum needs the
    empty→0 coalesce. ``extra`` aggregates ride along in the same groupBy."""
    return obs.groupBy("date", "location_id", "location_name", "hour").agg(
        F.round(F.avg("temp_c"), 2).alias("temp_avg"),
        F.min("temp_c").alias("temp_min"),
        F.max("temp_c").alias("temp_max"),
        F.round(F.avg("humidity"), 2).alias("humidity_avg"),
        F.round(F.avg("wind_kph"), 2).alias("wind_avg_kph"),
        F.coalesce(F.sum("precip_mm"), F.lit(0.0)).alias("precip_mm"),
        *extra,
    )


def equi_width_histogram(
    df: DataFrame, units: Column, width_units: int, *, out_prefix: str = "bin"
) -> DataFrame:
    """Equi-width histogram of an exact integer-unit measure: one
    partial-aggregable groupBy on ``floor(units / width)`` — the shuffle
    carries |bins| rows per map task, not |rows|, so it scales to any
    data size. Negative values floor toward -inf (true bins, not
    truncation). Output: ``bin`` (bigint index), ``{prefix}_lo_units``
    (inclusive lower edge), ``n`` (bigint count).

    This is the distributed analogue of a profiler's value-distribution
    pane; downstream it feeds skew detection (a histogram of join-key
    frequencies) and outlier gates.
    """
    u = units.cast("bigint")
    wlit = F.lit(int(width_units)).cast("bigint")
    # exact floor division (see queries._half_up_div for the identity)
    bin_idx = ((u - F.pmod(u, wlit)) / wlit).cast("bigint")
    return (
        df.select(bin_idx.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (F.col("bin") * wlit).alias(f"{out_prefix}_lo_units"),
            "n",
        )
    )


def winsorize(
    df: DataFrame,
    keys: list[str],
    units: Column,
    *,
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str = "w_units",
    approx: bool = False,
) -> DataFrame:
    """Per-group winsorization: clip an exact integer-unit measure to its
    group's [lo, hi] percentiles (linear interpolation — Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the definition, and
    integer inputs keep the interpolation arithmetic engine-identical).

    Two-phase plan: a partial-aggregable groupBy computes the tiny
    per-group bound table, which broadcast-joins back onto the fact — no
    second shuffle of the big side. The standard outlier gate before
    training-statistics aggregation.

    Exact ``percentile`` buffers each group's values in executor memory —
    correct for verification, wrong for a 100 TB group. Pass
    ``approx=True`` for the scale path (t-digest ``percentile_approx``,
    bounded state, mergeable partials); bounds then carry the sketch's
    rank error but the clip semantics are unchanged.
    """
    pctl = (
        (lambda c, p: F.percentile_approx(c, p, 10_000).cast("double"))
        if approx
        else (lambda c, p: F.percentile(c, p))
    )
    bounds = df.groupBy(*keys).agg(
        pctl(units, F.lit(lo)).alias("__plo"),
        pctl(units, F.lit(hi)).alias("__phi"),
    )
    clipped = (
        df.withColumn("__u", units.cast("bigint"))
        .join(F.broadcast(bounds), on=keys)
        .withColumn(
            out_col,
            F.greatest(F.least(F.col("__u").cast("double"), F.col("__phi")), F.col("__plo")),
        )
        .drop("__plo", "__phi", "__u")
    )
    return clipped


def standardize(
    df: DataFrame,
    keys: list[str],
    units: Column,
    *,
    out_col: str = "z",
) -> DataFrame:
    """Per-group z-score standardization of an exact integer-unit measure
    — the feature-normalization step before training statistics, in a
    form that is bit-identical across engines.

    The algebra keeps every intermediate exact:
    ``z = (x*n - su) / sqrt(n*sq - su^2)`` — numerator and the sqrt
    argument are exact 64-bit integers (population variance scaled by
    n^2), so the only float ops are one correctly-rounded sqrt and one
    division, identical on any IEEE engine. Zero-variance groups get
    z = 0. Same two-phase plan as :func:`winsorize`: tiny moment table,
    broadcast back, no second shuffle of the facts.
    """
    u = units.cast("bigint")
    moments = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(u).alias("__su"),
        F.sum(u * u).alias("__sq"),
    )
    var_n2 = F.col("__n") * F.col("__sq") - F.col("__su") * F.col("__su")
    z = F.when(
        var_n2 > 0,
        (u * F.col("__n") - F.col("__su")).cast("double")
        / F.sqrt(var_n2.cast("double")),
    ).otherwise(F.lit(0.0))
    return (
        df.join(F.broadcast(moments), on=keys)
        .withColumn(out_col, z)
        .drop("__n", "__su", "__sq")
    )


def daily_recap(obs: DataFrame) -> DataFrame:
    """The full Gold assembly (daily_compile_weather.py:96-134) as one plan
    with ONE exchange, not the reference's 27 per-location round-trips
    (SURVEY §4.2): ``obs`` is hash-partitioned on (date, location_id), and
    every later operator is keyed on a superset of those columns.

    A window over (date, location_id, hour) hands each row its hour's docs —
    a window, not a groupBy, so an hour with two ``location_name`` values
    keeps one hourly row per name, each with all of the hour's docs.
    :func:`hourly_agg` (A4/A5/A8) keeps one list per hourly row, and
    higher-order functions over it give the wind mode of
    :func:`deterministic_mode` (A6) and the data points :func:`grid_align`
    gives over :func:`minute_grid` (J4/A9). Then the W2 completeness flag
    and the nest into {date, location, hourly: [...]} (A9).

    Hours with no observations are skipped (DAG behavior,
    daily_compile_weather.py:123-124); the null-fill grid exists only at
    minute level (SURVEY §7.2).
    """
    doc = F.struct(
        "minute", F.col("temp_c").alias("temp"), "humidity", "wind_kph",
        "wind_dir", "precip_mm",
    )
    docs = F.collect_list(doc).over(Window.partitionBy("date", "location_id", "hour"))
    hours = hourly_agg(
        obs.repartition("date", "location_id").withColumn("__docs", docs),
        F.first("__docs").alias("__docs"),
    )
    fields = hours.schema["__docs"].dataType.elementType.fields

    # A6: min (-count, minute, value) is most frequent, then first seen, then least.
    winds = F.filter("__docs", lambda d: d["wind_dir"].isNotNull())
    mode = F.array_min(F.transform(winds, lambda d: F.struct(
        -F.size(F.filter(winds, lambda e: e["wind_dir"] == d["wind_dir"])),
        d["minute"],
        d["wind_dir"].alias("v"),
    )))["v"]

    # J4: the docs at grid minutes, plus an all-null doc per empty slot.
    grid = F.array(*[F.lit(f"{m:02d}") for m in range(0, 60, 10)])
    nulls = [F.lit(None).cast(f.dataType).alias(f.name) for f in fields[1:]]
    points = F.concat(
        F.filter("__docs", lambda d: F.array_contains(grid, d["minute"])),
        F.transform(
            F.array_except(grid, F.transform("__docs", lambda d: d["minute"])),
            lambda m: F.struct(m.alias("minute"), *nulls),
        ),
    )
    hourly = hours.withColumns({
        "dominant_wind_dir": mode,
        "data_points": F.array_sort(points),
        # W2: day-completeness flag stamped on every hour row.
        "full_recap": F.max(F.col("hour") == F.lit("23")).over(
            Window.partitionBy("date", "location_id")
        ),
    })

    return hourly.groupBy("date", "location_id", "location_name").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "hour", "full_recap", "temp_avg", "temp_min", "temp_max",
                    "humidity_avg", "wind_avg_kph", "dominant_wind_dir",
                    "precip_mm", "data_points",
                )
            )
        ).alias("hourly")
    )


def exact_distinct_bitmap(
    df: DataFrame,
    keys: list[str],
    col: str,
    out_col: str = "n_distinct",
) -> DataFrame:
    """EXACT distinct-count over a bigint id column via mergeable fixed-width
    bitmaps (Spark 3.5+ ``bitmap_*`` builtins) — the scale path between
    ``count(distinct)`` (exact, but shuffles every raw value to one reducer
    per group under Expand) and HLL sketches (mergeable, but approximate).

    Two-level partial aggregation: ids map to (bucket, bit) with
    ``bitmap_bucket_number``/``bitmap_bit_position`` (32768 ids per bucket),
    each (key, bucket) group ORs its bits into one ≤4 KB bitmap map-side,
    and the final reduce sums ``bitmap_count`` per key. The shuffle carries
    one bitmap per (key, bucket) instead of one row per distinct id — at
    100 TB that's the difference between a bounded merge and a skewed
    all-values exchange. Reference parity: the reference counts distinct
    station ids with an in-memory set (SURVEY §2.4 A1 analogue); this is
    the distributed exact form.
    """
    per_bucket = (
        df.select(
            *keys,
            F.expr(f"bitmap_bucket_number({col})").alias("__bkt"),
            F.expr(f"bitmap_bit_position({col})").alias("__pos"),
        )
        .groupBy(*keys, "__bkt")
        .agg(F.expr("bitmap_construct_agg(__pos)").alias("__bm"))
    )
    return per_bucket.groupBy(*keys).agg(
        F.sum(F.expr("bitmap_count(__bm)")).cast("bigint").alias(out_col)
    )


def sql_standard_rollup(
    df: DataFrame,
    group_cols: list,
    aggs: list,
    cube: bool = False,
) -> DataFrame:
    """ROLLUP/CUBE with the SQL-STANDARD empty-input behavior.

    The standard's ``()`` grouping set always contributes a grand-total
    row — on EMPTY input that is one row of NULL group keys with
    count = 0 (DuckDB, Postgres agree). Spark's Expand-based
    rollup/cube instead yields NO rows on empty input (divergence found
    by the round-3 differential fuzzer; absorbed there as a harness
    carve-out). This operator restores the standard semantics on every
    input: the non-empty grouping sets run through one Expand
    aggregation exactly as before, and the grand total comes from a
    separate GLOBAL aggregate — which Spark evaluates to exactly one
    row even over an empty child. On non-empty input the result is
    row-identical to the native rollup/cube (pinned in tests).

    Scale shape: the grand-total branch is a full-reduce of
    partial-aggregated map outputs (one extra row of traffic per map
    task), unioned onto the grouping-set pass — no extra scan of the
    source is needed at execution time when the plan reuses the
    exchange, and the branch output is always exactly one row.

    ``group_cols`` may be Columns (e.g. ``F.date_format(...).alias``)
    or names; ``aggs`` must be aliased aggregate Columns.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in group_cols]
    n = len(cols)
    if cube:
        sets = [
            [cols[i] for i in range(n) if mask & (1 << i)]
            for mask in range((1 << n) - 1, 0, -1)
        ]
    else:
        sets = [cols[:i] for i in range(n, 0, -1)]
    grouped = df.groupingSets(sets, *cols).agg(*aggs)
    names = grouped.schema.names
    key_fields = grouped.schema.fields[:n]
    grand = df.agg(*aggs).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in key_fields],
        *names[n:],
    )
    return grouped.unionByName(grand)
