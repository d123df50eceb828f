"""Medallion-pipeline benchmark for the engine.

    python3 perfbench/run.py --workload {backfill,microbatch,headline_queries}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Every workload is a closed loop from one
client in one process on ``local[<cores>]``: the next operation starts when
the previous one has finished. The engine is driven only through its public
functions (``session.get_spark``, ``sources.jsonsrc.read_json_dir``,
``plans.pipelines.*``, ``sinks.*``, ``snapshots.*``, ``queries.QUERIES``);
the inputs come from ``perfbench/gen.py`` and the seed.

* ``backfill``: N days of Bronze landing files, then read -> transform ->
  keyed Silver append (first write) -> Gold recap merge (first merge); one
  operation is one whole backfill into fresh Silver/Gold roots.
* ``microbatch``: 14 days pre-seeded outside timing, then one operation per
  10-minute tick (27 docs): land, transform the tick's batch, keyed append,
  recap merge of the touched dates. Ticks cross midnight.
* ``headline_queries``: one operation is a pass over ``bench.BENCH_QUERIES``
  forced with the ``noop`` sink, on generated copies of the ten tables.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the session also writes an uncompressed event log and
half the operations run inside spans, and the last line carries the
per-layer metrics (perfbench/README.md maps each to the end-to-end metric
it should move). The line before it is a detail record: sample counts, the
tail percentile used, the machine sentinel and core count. Outputs are
checked after the timed window; an operation that raised or failed its
check counts in ``failed``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

import checks
import gen
from tracing import Tracer, fold_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "microbatch", "headline_queries")

BACKFILL_DAYS = 7
# Days of Silver/Gold history before the timed ticks. A sweep over 2, 7, 14
# and 30 days (perfbench/README.md) showed tick latency and the layers'
# times flat within noise and the depth-bound counters (keys scanned,
# rewrite amplification) growing linearly; 14 is the deepest at which the
# benchmark's runs fit their time budget.
MICRO_HISTORY_DAYS = 14
MICRO_WARM_TICKS = 2
MICRO_TICKS_BEFORE_MIDNIGHT = MICRO_WARM_TICKS + 1  # and the first timed one
HEADLINE_SCALE = 0.25  # 1.0 is about sf0.01
SETUP_SAMPLES = 3
SILVER_KEYS = ["location_id", "timestamp"]


def _env(work: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ.setdefault("SPARK_GRAFT_QUIET_WAIT_MAX", "0")
    sys.path[:0] = [ROOT, HERE]


def _session(work: str, trace: bool):
    from etl_weather_jabar_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop() -> None:
    """Stop the active session, if any, and the JVM behind it, and wait for
    the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_pid(spark) -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _hwm_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _host_calibration_s() -> float:
    """Seconds a fixed pure-Python loop takes: shows how fast the host ran
    this run, apart from the engine."""
    t0 = time.perf_counter()
    n = 0
    for i in range(1_000_000):
        n += i
    return time.perf_counter() - t0


def _tree_bytes(*roots: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for r in roots for d, _, fs in os.walk(r) for f in fs
    )


def _parquet_files(path: str) -> dict[str, int]:
    return {p: os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                                     recursive=True)}


def _rows(files) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in files)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) below 11 samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    k = n - 11  # 0-based rank with exactly ten samples above it
    return xs[k], round(100.0 * (k + 1) / n, 1)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Pipeline:
    """One Bronze -> Silver -> Gold store driven through the public API."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.silver = os.path.join(root, "silver")
        self.gold = os.path.join(root, "gold")

    def run(self, tracer, bronze: str, batch_end: str | None = None) -> None:
        """Transform ``bronze``, append it to Silver keyed on
        (location_id, timestamp), merge the recap of the touched dates into
        Gold. With ``batch_end`` only that tick's docs are transformed."""
        from etl_weather_jabar_spark import sinks
        from etl_weather_jabar_spark.plans import pipelines
        from etl_weather_jabar_spark.schemas import WEATHER_DATA
        from etl_weather_jabar_spark.sources.jsonsrc import read_json_dir

        span = tracer.span
        with span("sources.read_json_dir"):
            raw = read_json_dir(self.spark, bronze)
        with span("plans.transform_stage"):
            silver_new = pipelines.transform_stage(raw, batch_end=batch_end)
        with span("sinks.append_dedup_keyed"):
            sinks.append_dedup_keyed(silver_new, self.silver, SILVER_KEYS)
        with span("sinks.read_table_fmt"):
            silver_all = sinks.read_table_fmt(self.spark, self.silver, schema=WEATHER_DATA)
        with span("plans.recap_to_snapshot"):
            pipelines.recap_to_snapshot(
                silver_all, silver_new if batch_end else silver_all, self.gold
            )

    def probe(self, tracer, bronze: str, batch_end: str | None,
              dates: list[str] | None) -> None:
        """Traced run only: execute the lazy transform and recap plans into
        the ``noop`` sink, so the operators' execution time shows apart
        from the writes around them."""
        from etl_weather_jabar_spark import sinks
        from etl_weather_jabar_spark.plans import pipelines
        from etl_weather_jabar_spark.schemas import WEATHER_DATA
        from etl_weather_jabar_spark.sources.jsonsrc import read_json_dir

        with tracer.span("operators.silver_probe"):
            raw = read_json_dir(self.spark, bronze)
            pipelines.transform_stage(raw, batch_end=batch_end) \
                .write.format("noop").mode("overwrite").save()
        with tracer.span("operators.recap_probe"):
            silver = sinks.read_table_fmt(self.spark, self.silver, schema=WEATHER_DATA)
            pipelines.recap_stage(silver, dates).write.format("noop").mode("overwrite").save()

    def state(self) -> dict:
        return {"silver": _parquet_files(self.silver), "gold": _parquet_files(self.gold)}

    def layer_counts(self, before: dict, touched_dates: set[str], offered: int) -> dict:
        """Per-operation sink and snapshot counters from the file system."""
        from etl_weather_jabar_spark.snapshots import snapshot_read

        after = self.state()
        new_silver = [p for p in after["silver"] if p not in before["silver"]]
        appended = _rows(new_silver)
        existing = _rows(before["silver"])
        new_gold = [p for p in after["gold"] if p not in before["gold"]]
        live = {os.path.basename(p) for p in snapshot_read(self.spark, self.gold).inputFiles()}
        live_new = [p for p in new_gold if os.path.basename(p) in live]
        orphans = len(new_gold) - len(live_new)
        dates = pq.read_table(
            [p for p in after["gold"] if os.path.basename(p) in live], columns=["date"]
        ).column("date").to_pylist() if live else []
        affected = sum(1 for d in dates if d in touched_dates)
        rewritten = _rows(new_gold)
        return {
            "sinks.append_dedup_keyed.files_written": len(new_silver),
            "sinks.append_dedup_keyed.bytes_written": sum(after["silver"][p] for p in new_silver),
            "sinks.append_dedup_keyed.rows_offered": offered,
            "sinks.append_dedup_keyed.rows_appended": appended,
            "sinks.keys_scanned_per_row_appended": existing / max(1, appended),
            "snapshots.bytes_rewritten": sum(after["gold"][p] for p in new_gold),
            "snapshots.rewrite_amplification": rewritten / max(1, affected),
            "snapshots.live_files": len(live),
            "snapshots.publish_retries": orphans / max(1, len(live_new)),
        }


def _touched(docs: list[dict]) -> tuple[set[str], int]:

    ids = gen.bronze_survivors(docs)
    return {gen.event_time(d)[:10] for d in ids}, len(ids)


class Backfill:
    name = "backfill"

    def __init__(self, work: str, seed: int):

        self.work, self.seed = work, seed
        self.bronze = os.path.join(work, "bronze")
        g = gen.BronzeGen(seed)
        self.docs, self.bronze_bytes = [], 0
        for d in range(BACKFILL_DAYS):
            for s in range(gen.SLOTS_PER_DAY):
                _, docs, n = gen.land_tick(self.bronze, g, d, s)
                self.docs += docs
                self.bronze_bytes += n
        self.glob = os.path.join(self.bronze, "*")  # the day directories
        self.touched, self.offered = _touched(self.docs)
        self.reps: list[str] = []

    @staticmethod
    def warm_input(work: str, seed: int) -> str:

        g = gen.BronzeGen(seed + 1)
        root = os.path.join(work, "warm-bronze")
        for s in range(6):
            gen.land_tick(root, g, 0, s)
        return root

    @staticmethod
    def warm_op(spark, tracer, warm: str, out: str) -> None:
        Pipeline(spark, out).run(tracer, os.path.join(warm, "*"))

    def warm(self, spark) -> list[float]:
        """One untimed backfill: the set-ups ran only a six-tick one."""

        rec: dict = {}
        self.op(spark, Tracer(), -1, rec)
        self.reps.clear()
        return [rec["latency_s"]]

    def op(self, spark, tracer, i: int, record: dict) -> None:
        root = os.path.join(self.work, f"rep{i}")
        self.reps.append(root)
        p = Pipeline(spark, root)
        before = p.state()
        t0 = time.perf_counter()
        with tracer.span("op.backfill", op=i):
            p.run(tracer, self.glob)
        record["latency_s"] = time.perf_counter() - t0
        record["input_rows"] = len(self.docs)
        if tracer.enabled:
            record.update(p.layer_counts(before, self.touched, self.offered))
            record["storage.stored_bytes_per_input_byte"] = (
                _tree_bytes(p.silver, p.gold) / self.bronze_bytes)
            record["sources.bronze_input_bytes"] = self.bronze_bytes
            with tracer.span("probe", op=i):
                p.probe(tracer, self.glob, None, None)

    def check(self, spark, attempted: list[int]) -> tuple[set[int], dict]:
        from etl_weather_jabar_spark.sources.jsonsrc import read_json_dir

        info = {"bronze_rows_read": read_json_dir(spark, self.glob).count(),
                "bronze_docs_landed": len(self.docs)}
        expected = gen.expected_silver_rows(self.docs)
        bad = set()
        for i in attempted:
            root = os.path.join(self.work, f"rep{i}")
            ok = info["bronze_rows_read"] == len(self.docs)
            ok = ok and checks.silver_matches(spark, os.path.join(root, "silver"), expected)
            ok = ok and checks.gold_matches_duckdb(
                spark, os.path.join(root, "silver"), os.path.join(root, "gold"))
            if not ok:
                bad.add(i)
        last = self.reps[-1]
        info["stored_bytes_per_input_byte"] = (
            _tree_bytes(os.path.join(last, "silver"), os.path.join(last, "gold"))
            / self.bronze_bytes)
        return bad, info


class Microbatch:
    name = "microbatch"

    def __init__(self, work: str, seed: int):

        self.work, self.seed = work, seed
        self.g = gen.BronzeGen(seed)
        self.bronze = os.path.join(work, "bronze")
        self.docs, self.bronze_bytes = [], 0
        self.ticks: list[tuple[int, int]] = []
        # pre-seed: every tick of the history days except the last few
        last = MICRO_HISTORY_DAYS - 1
        for d in range(MICRO_HISTORY_DAYS):
            slots = gen.SLOTS_PER_DAY - (MICRO_TICKS_BEFORE_MIDNIGHT if d == last else 0)
            docs, n = gen.land_day(self.bronze, self.g, d, slots)
            self.docs += docs
            self.bronze_bytes += n
        self.next_tick = (last, gen.SLOTS_PER_DAY - MICRO_TICKS_BEFORE_MIDNIGHT)
        self.pipe = None

    def preseed(self, spark, tracer) -> float:
        t0 = time.perf_counter()
        self.pipe = Pipeline(spark, os.path.join(self.work, "store"))
        self.pipe.run(tracer, os.path.join(self.bronze, "*"))
        return time.perf_counter() - t0

    warm_input = staticmethod(Backfill.warm_input)

    @staticmethod
    def warm_op(spark, tracer, warm: str, out: str) -> None:
        """One tick's batch into a fresh store."""
        first = sorted(glob.glob(os.path.join(warm, "*", "*.json")))[0]
        with open(first) as f:
            end = json.load(f)[0]["dag_times"]["end"]
        Pipeline(spark, out).run(tracer, first, batch_end=end)

    def warm(self, spark) -> list[float]:
        """Untimed ticks: the set-ups ran ticks into empty stores only, so
        the first tick on a seeded store runs cold, and after one warm tick
        the next was still about 15% slower than the ones after it."""
        out = []
        for _ in range(MICRO_WARM_TICKS):
            rec: dict = {}
            self.op(spark, Tracer(), -1, rec)
            out.append(rec["latency_s"])
        return out

    def op(self, spark, tracer, i: int, record: dict) -> None:

        d, s = self.next_tick
        path, docs, n = gen.land_tick(self.bronze, self.g, d, s)
        self.docs += docs
        self.bronze_bytes += n
        self.ticks.append((d, s))
        self.next_tick = (d + 1, 0) if s + 1 == gen.SLOTS_PER_DAY else (d, s + 1)
        end = self.g.tick_end(d, s).strftime(gen.TS_FMT)
        touched, offered = _touched(docs)
        before = self.pipe.state() if tracer.enabled else None
        t0 = time.perf_counter()
        with tracer.span("op.tick", op=i):
            self.pipe.run(tracer, path, batch_end=end)
        record["latency_s"] = time.perf_counter() - t0
        record["input_rows"] = len(docs)
        if tracer.enabled:
            record.update(self.pipe.layer_counts(before, touched, offered))
            record["sources.bronze_input_bytes"] = n
            record["storage.stored_bytes_per_input_byte"] = (
                _tree_bytes(self.pipe.silver, self.pipe.gold) / self.bronze_bytes)
            with tracer.span("probe", op=i):
                self.pipe.probe(tracer, path, end, sorted(touched))

    def check(self, spark, attempted: list[int]) -> tuple[set[int], dict]:
        from etl_weather_jabar_spark.sources.jsonsrc import read_json_dir

        info = {
            "bronze_rows_read": read_json_dir(
                spark, os.path.join(self.bronze, "*")).count(),
            "bronze_docs_landed": len(self.docs),
            "ticks": [self.g.tick_end(d, s).strftime("%Y-%m-%d %H:%M") for d, s in self.ticks],
        }
        ok = info["bronze_rows_read"] == len(self.docs)
        ok = ok and checks.silver_matches(spark, self.pipe.silver,
                                          gen.expected_silver_rows(self.docs))
        ok = ok and checks.gold_matches_duckdb(spark, self.pipe.silver, self.pipe.gold)
        same, info["recap_avg_rows_differing"] = checks.gold_equals_recompute(
            spark, self.pipe.silver, self.pipe.gold)
        ok = ok and same
        info["stored_bytes_per_input_byte"] = (
            _tree_bytes(self.pipe.silver, self.pipe.gold) / self.bronze_bytes)
        # the final state is checked once; a mismatch fails every tick
        return (set() if ok else set(attempted)), info


class HeadlineQueries:
    name = "headline_queries"

    def __init__(self, work: str, seed: int):

        self.data = os.path.join(work, "tables")
        self.rows = gen.write_headline_tables(self.data, seed, HEADLINE_SCALE)
        self.results: dict = {}

    @staticmethod
    def warm_input(work: str, seed: int) -> str:

        data = os.path.join(work, "warm-tables")
        gen.write_headline_tables(data, seed + 1, 0.1)
        return data

    @staticmethod
    def warm_op(spark, tracer, warm: str, out: str) -> None:
        from etl_weather_jabar_spark.queries import QUERIES

        QUERIES["pricing_summary"](spark, warm).count()

    def warm(self, spark) -> list[float]:
        """An untimed pass that collects every result; these results are
        the ones checked against the oracle, since the timed passes run the
        same plans into the ``noop`` sink."""
        import bench

        t0 = time.perf_counter()
        self.results = checks.spark_results(spark, self.data, bench.BENCH_QUERIES)
        return [time.perf_counter() - t0]

    def op(self, spark, tracer, i: int, record: dict) -> None:
        import bench
        from etl_weather_jabar_spark.queries import QUERIES

        t0 = time.perf_counter()
        with tracer.span("op.pass", op=i):
            for name in bench.BENCH_QUERIES:
                with tracer.span(f"queries.{name}"):
                    with tracer.span("queries.plan_build"):
                        df = QUERIES[name](spark, self.data)
                    df.write.format("noop").mode("overwrite").save()
        record["latency_s"] = time.perf_counter() - t0
        record["input_rows"] = sum(self.rows.values())

    def check(self, spark, attempted: list[int]) -> tuple[set[int], dict]:

        bad = checks.oracle_mismatches(self.data, self.results)
        info = {"failed_queries": bad, "table_rows": self.rows}
        # a pass fails when any of its queries disagrees with the oracle
        return (set(attempted) if bad else set()), info


KINDS = {k.name: k for k in (Backfill, Microbatch, HeadlineQueries)}
E2E = {"setup_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}


def setup(kind, work: str, warm: str, trace: bool):
    """``SETUP_SAMPLES`` set-ups, each get_spark plus the workload's warm-up
    operation into a fresh output root. The first also starts the JVM; the
    others stop the session and build a new one in the same JVM."""
    samples, spark = [], None
    for k in range(SETUP_SAMPLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _session(work, trace)
        t1 = time.perf_counter()
        kind.warm_op(spark, Tracer(), warm, os.path.join(work, f"warm-out{k}"))
        samples.append({"get_spark_s": t1 - t0, "setup_s": time.perf_counter() - t0})
    return spark, samples


def _trace_snapshot_merge(tracer) -> None:
    """``recap_to_snapshot`` imports ``snapshot_merge`` when called, so
    wrapping the module attribute puts a span around it."""
    import etl_weather_jabar_spark.snapshots as snapshots

    merge = snapshots.snapshot_merge

    def traced(*a, **kw):
        with tracer.span("snapshots.snapshot_merge"):
            return merge(*a, **kw)

    snapshots.snapshot_merge = traced


def run(args, work: str) -> tuple[dict, dict]:
    import bench
    import layers

    quiet_wait = bench._wait_for_quiet_machine()
    sentinel_before = bench._machine_sentinel()
    calib_before = _host_calibration_s()
    kind = KINDS[args.workload]
    warm = kind.warm_input(work, args.seed)
    spark, setups = setup(kind, work, warm, bool(args.trace))
    jvm = _jvm_pid(spark)

    t0 = time.perf_counter()
    wl = kind(work, args.seed)
    prep = {"generate_s": time.perf_counter() - t0}
    if isinstance(wl, Microbatch):
        prep["preseed_s"] = wl.preseed(spark, Tracer())
    warm_lat = wl.warm(spark)

    # with --trace 1 half the operations run traced, in the order untraced,
    # traced, traced, untraced, ..., so the traced and untraced latencies of
    # one run give the tracing overhead without always timing the first
    # operation on one side
    tracer = Tracer(spark, enabled=bool(args.trace))
    if args.trace:
        _trace_snapshot_merge(tracer)
    records, errors = [], []
    deadline = time.perf_counter() + args.seconds
    i = 0
    while time.perf_counter() < deadline or i < 2:
        tracer.enabled = bool(args.trace) and i % 4 in (1, 2)
        rec = {"op": i, "traced": tracer.enabled}
        gc0 = _jvm_gc_s(spark)
        try:
            wl.op(spark, tracer, i, rec)
            rec["spark.gc_s"] = _jvm_gc_s(spark) - gc0
            records.append(rec)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            errors.append({"op": i, "error": repr(e)[:500]})
        i += 1
    tracer.enabled = False
    attempted = i
    rss = {"python": _hwm_mb(os.getpid()), "jvm": _hwm_mb(jvm)}
    peak_rss = rss["python"] + rss["jvm"]

    t0 = time.perf_counter()
    bad, check_info = wl.check(spark, [r["op"] for r in records])
    check_s = time.perf_counter() - t0
    failed = len(errors) + len(bad)
    job_counts = tracer.job_counts() if args.trace else {}
    _stop()
    tmp_left = len(os.listdir(os.environ["TMPDIR"]))

    lat = [r["latency_s"] for r in records] or [0.0]
    tail_v, tail_p = tail(lat)
    calib_after = _host_calibration_s()
    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "quiet_wait_s": quiet_wait, "sentinel_before": sentinel_before,
        "sentinel_after": bench._machine_sentinel(),
        "host_calibration_s": [calib_before, calib_after],
        "setup_samples": setups, "prep": prep, "warm_op_s": warm_lat, "check_s": check_s,
        "op_latencies_s": lat, "op_samples": len(records),
        "op_tail_s": tail_v, "op_tail_percentile": tail_p, "peak_rss_mb": rss,
        "input_rows_per_op": records[0]["input_rows"] if records else 0,
        "input_rows_per_s": records[0]["input_rows"] / statistics.median(lat) if records else 0,
        "errors": errors, "failed_ops": sorted(bad), "checks": check_info,
        "tmp_entries_left": tmp_left,
    }
    if args.trace:
        groups = fold_event_log(os.path.join(work, "eventlog"))
        for idx, n in job_counts.items():
            groups.setdefault(f"span-{idx}", {})["status_tracker_jobs"] = n
        detail["job_count_mismatches"] = sum(
            1 for idx, n in job_counts.items() if groups[f"span-{idx}"].get("jobs", 0) != n)
        metrics = layers.fold(tracer, groups, records, setups, tmp_left)
        units = layers.names()
        os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
        tracer.dump(os.path.join(HERE, "results", f"spans-{wl.name}-seed{args.seed}.json"))
    else:
        metrics = {
            "setup_s": statistics.median(s["setup_s"] for s in setups),
            "op_p50_s": statistics.median(lat),
            "peak_rss_mb": peak_rss,
        }
        units = E2E
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return detail, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still removes its work dir and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _env(work)
        detail, result = run(args, work)
    finally:
        if "pyspark" in sys.modules:
            _stop()  # a run that raised still waits for its JVM
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still has its work dir there
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
