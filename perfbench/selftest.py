"""Self-test of the benchmark's generator and correctness checks, at a tiny
size (one Spark session, a few ticks):

    python3 perfbench/selftest.py

* the generator is deterministic per seed, lands JSON arrays, and its
  expected keep-first set drops duplicates and null locations and keeps the
  late history docs;
* on a four-tick store that crosses midnight every check passes;
* a wrong Silver value fails the Silver check;
* after one Gold row's averages are corrupted through ``snapshot_merge``,
  the DuckDB check fails and the recompute check counts the row; after its
  maximum temperature is corrupted too, both Gold checks fail;
* the headline oracle check passes on tiny generated tables.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def check_generator(root: str) -> list[dict]:
    import gen

    a, b = gen.BronzeGen(5), gen.BronzeGen(5)
    docs_a = [d for s in range(143, 144) for d in a.tick_docs(0, s)]
    docs_b = [d for s in range(143, 144) for d in b.tick_docs(0, s)]
    assert docs_a == docs_b, "same seed must give the same docs"
    g = gen.BronzeGen(5)
    docs = []
    for d, s in [(0, 142), (0, 143), (1, 0), (1, 1)]:
        path, tick, _ = gen.land_tick(root, g, d, s)
        with open(path) as f:
            assert isinstance(json.load(f), list), "landing files are JSON arrays"
        docs += tick
    late = [d for d in docs if d["fetch_method"] == "history"]
    assert late and late[0]["dag_times"]["logical_date"][:10] < late[0]["dag_times"]["end"][:10]
    ids = gen.expected_silver_rows(docs)
    assert late[0]["_id"] in ids, "a late doc fills a slot missed the day before"
    assert all(d["_id"] not in ids for d in docs if d["location"]["id"] is None)
    keys = {(d["location"]["id"], d["dag_times"]["end"]) for d in docs
            if d["location"]["id"] is not None}
    assert len(ids) == len(keys), "one survivor per Bronze key"
    return docs


def main() -> int:
    sys.path[:0] = [os.path.dirname(HERE), HERE]
    base = os.path.join(os.path.dirname(HERE), ".perfbench-work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=base)
    try:
        import run

        run._env(work)
        import checks
        import gen
        from pyspark.sql import functions as F

        from etl_weather_jabar_spark.snapshots import snapshot_merge, snapshot_read
        from tracing import Tracer

        bronze = os.path.join(work, "bronze")
        docs = check_generator(bronze)
        spark = run._session(work, trace=False)
        try:
            store = run.Pipeline(spark, os.path.join(work, "store"))
            for path in sorted(glob.glob(os.path.join(bronze, "*", "*.json"))):
                with open(path) as f:
                    end = json.load(f)[0]["dag_times"]["end"]
                store.run(Tracer(), path, batch_end=end)
            expected = gen.expected_silver_rows(docs)
            assert checks.silver_matches(spark, store.silver, expected)
            wrong = dict(expected)
            some = sorted(wrong)[0]
            wrong[some] = wrong[some][:2] + (wrong[some][2] + 0.1, wrong[some][3])
            assert not checks.silver_matches(spark, store.silver, wrong)
            assert checks.gold_equals_recompute(spark, store.silver, store.gold) == (True, 0)
            assert checks.gold_matches_duckdb(spark, store.silver, store.gold)

            def corrupt(field):
                row = snapshot_read(spark, store.gold).orderBy("date", "location_id").limit(1)
                bad = row.withColumn("hourly", F.transform(
                    "hourly", lambda h: h.withField(field, h[field] + 1.0)))
                snapshot_merge(spark, store.gold,
                               bad.withColumn("seq", F.lit(1)).withColumn("op", F.lit("U")),
                               ["date", "location_id"])

            corrupt("temp_avg")  # the averages are checked against DuckDB only
            assert checks.gold_equals_recompute(spark, store.silver, store.gold) == (True, 1)
            assert not checks.gold_matches_duckdb(spark, store.silver, store.gold)
            corrupt("temp_max")
            assert not checks.gold_equals_recompute(spark, store.silver, store.gold)[0]
            assert not checks.gold_matches_duckdb(spark, store.silver, store.gold)

            tables = os.path.join(work, "tables")
            gen.write_headline_tables(tables, 5, 0.05)
            names = ["pricing_summary", "dedup_keep_first", "dedup_exact_docs"]
            assert checks.oracle_mismatches(
                tables, checks.spark_results(spark, tables, names)) == []
        finally:
            run._stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
