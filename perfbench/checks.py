"""Correctness checks, run after the timed window.

* Silver holds exactly the generator's keep-first ``_id`` set, with the
  generator's location, timestamp, temperature and precipitation per row.
* ``backfill`` and ``microbatch``: Gold's hourly min/max/precip, present
  data-point minutes and averages equal DuckDB's aggregate over the Silver
  files that were written.
* ``microbatch``: the incrementally merged Gold equals a fresh
  ``recap_stage`` over the final Silver (incremental == full recompute).
* ``headline_queries``: each query's value hash equals its DuckDB
  ``ORACLE_SQL`` twin, hashed as ``tools/check_oracle.py`` hashes them.
"""

from __future__ import annotations

import os
from decimal import Decimal

import duckdb


def _silver(spark, silver_dir: str):
    from etl_weather_jabar_spark import sinks
    from etl_weather_jabar_spark.schemas import WEATHER_DATA

    return sinks.read_table_fmt(spark, silver_dir, schema=WEATHER_DATA)


def silver_matches(spark, silver_dir: str, expected: dict[str, tuple]) -> bool:
    """Silver holds one row per expected ``_id``, each with the generator's
    location, event timestamp, temperature and precipitation."""
    rows = _silver(spark, silver_dir).select(
        "_id", "location_id", "timestamp", "temp_c", "precip_mm").collect()
    got = {r[0]: tuple(r[1:]) for r in rows}
    return len(got) == len(rows) and got == expected


AVERAGES = ("temp_avg", "humidity_avg", "wind_avg_kph")


def _gold_hourly_rows(spark, gold_dir: str) -> list[tuple]:
    """Gold flattened to (date, location_id, hour, temp_min, temp_max,
    precip_mm, minutes with a temperature, temp_avg, humidity_avg,
    wind_avg_kph)."""
    from pyspark.sql import functions as F

    from etl_weather_jabar_spark.snapshots import snapshot_read

    h = snapshot_read(spark, gold_dir).select(
        "date", "location_id", F.explode("hourly").alias("h"))
    present = F.filter(F.col("h.data_points"), lambda p: p["temp"].isNotNull())
    rows = h.select(
        "date", "location_id", F.col("h.hour"), F.col("h.temp_min"), F.col("h.temp_max"),
        F.col("h.precip_mm"),
        F.array_join(F.transform(present, lambda p: p["minute"]), ",").alias("minutes"),
        *(F.col(f"h.{a}") for a in AVERAGES),
    ).collect()
    return [tuple(r) for r in rows]


def _rounds_mean(value, total, n: int) -> bool:
    """``value`` is the exact decimal mean ``total / n`` rounded to two
    places. At an exact tie (x.xx5) either neighbour counts: the mean is a
    double sum, and the order of the addition decides which way it
    rounds."""
    if n == 0:
        return value is None
    return value is not None and abs(Decimal(repr(value)) - Decimal(total) / n) <= Decimal("0.005")


def gold_matches_duckdb(spark, silver_dir: str, gold_dir: str) -> bool:
    """Every Gold hour against DuckDB's aggregate over the Silver files:
    min/max temperature, precipitation (doubles compared at the six
    decimals ``tools/check_oracle.py`` prints), the minutes that have a
    temperature, and the three averages against the exact decimal mean
    (readings have one decimal, so a DECIMAL sum is exact)."""
    from tools.check_oracle import normalize_cell

    con = duckdb.connect()
    oracle = con.sql(f"""
        SELECT date, location_id, hour, min(temp_c), max(temp_c),
               coalesce(sum(precip_mm), 0.0),
               coalesce(string_agg(minute, ',' ORDER BY minute)
                        FILTER (WHERE temp_c IS NOT NULL), ''),
               sum(CAST(temp_c AS DECIMAL(18, 1))), count(temp_c),
               sum(humidity), count(humidity),
               sum(CAST(wind_kph AS DECIMAL(18, 1))), count(wind_kph)
        FROM read_parquet('{os.path.join(silver_dir, "*.parquet")}')
        GROUP BY date, location_id, hour
    """).fetchall()
    want = {r[:3]: r[3:] for r in oracle}
    got = {r[:3]: r[3:] for r in _gold_hourly_rows(spark, gold_dir)}
    if len(got) != len(oracle) or got.keys() != want.keys():
        return False
    for key, g in got.items():
        w = want[key]
        if [normalize_cell(x) for x in g[:4]] != [normalize_cell(x) for x in w[:4]]:
            return False
        if not all(_rounds_mean(v, t, n) for v, t, n in zip(g[4:], w[4::2], w[5::2])):
            return False
    return True


def gold_equals_recompute(spark, silver_dir: str, gold_dir: str) -> tuple[bool, int]:
    """(the incrementally merged Gold equals a fresh ``recap_stage`` over
    the final Silver, rows whose averages alone differ).

    The hourly precip_mm compares at six decimals, as
    ``tools/check_oracle.py`` prints doubles: it is an unrounded sum whose
    last bit follows the order in which a plan adds the rows. The rounded
    averages are left out of the equality for the same reason (an exact tie
    rounds either way), and counted instead; :func:`gold_matches_duckdb`
    checks them against the exact mean."""
    from pyspark.sql import functions as F

    from etl_weather_jabar_spark.plans.pipelines import recap_stage
    from etl_weather_jabar_spark.snapshots import snapshot_read

    fresh = recap_stage(_silver(spark, silver_dir))
    gold = snapshot_read(spark, gold_dir).select(*fresh.columns)
    keys = [c for c in fresh.columns if c != "hourly"]

    def rows(df):
        """(row without the averages, whole row) as JSON, sorted."""
        def hour(h, drop):
            h = h.withField("precip_mm", F.round(h["precip_mm"], 6))
            return h.dropFields(*drop) if drop else h

        def as_json(drop):
            return F.to_json(F.struct(*keys, F.transform(
                "hourly", lambda h: hour(h, drop)).alias("hourly")))

        return sorted(tuple(r) for r in df.select(as_json(AVERAGES), as_json(())).collect())

    g, f = rows(gold), rows(fresh)
    f_rest, f_whole = {r[0] for r in f}, {r[1] for r in f}
    ok = [r[0] for r in g] == [r[0] for r in f]
    return ok, sum(1 for rest, whole in g if rest in f_rest and whole not in f_whole)


def spark_results(spark, data_dir: str, names: list[str]) -> dict[str, tuple]:
    """{name: (lower-cased columns, rows)} of each query, collected."""
    from etl_weather_jabar_spark.queries import QUERIES

    out = {}
    for name in names:
        df = QUERIES[name](spark, data_dir)
        out[name] = ([c.lower() for c in df.columns], [tuple(r) for r in df.collect()])
    return out


def oracle_mismatches(data_dir: str, results: dict[str, tuple]) -> list[str]:
    """Names whose Spark result differs from the DuckDB twin (columns, row
    count or value hash)."""
    from etl_weather_jabar_spark.queries import ORACLE_SQL
    from tools.check_oracle import TABLES, table_hash

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{os.path.join(data_dir, t + '.parquet')}')")
    bad = []
    for name, (scols, srows) in results.items():
        orel = con.sql(ORACLE_SQL[name])
        ocols = [c.lower() for c in orel.columns]
        orows = orel.fetchall()
        if (sorted(scols) != sorted(ocols) or len(srows) != len(orows)
                or table_hash(scols, srows) != table_hash(ocols, orows)):
            bad.append(name)
    return bad
