"""One workload in one fresh process: set up, time, check, report.

``run.py`` starts this module as a child process and reads the JSON it
writes to ``--out``. The child is the only process that talks to Spark,
so the parent can sample its memory and read its log without sharing a
JVM with it. Everything is called through the package's public API:
``session.get_spark``, ``QUERIES[name].spark`` plus the ``noop`` sink,
the ``sources.table_log`` verbs and ``streaming.job.run_pipeline``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

from datagen import TABLES

# The query subset: one query from each of the eight BigQuery-SQL/batch
# modules and one from each of the five corpus modules, so every inventory
# module has a per-module time in every run. A pass over all 98 queries
# does not fit a run (a cold 98-query pass takes ~140 s on 4 cores); each
# pick sits near its module's median cost. The corpus picks hold two
# cache-backed rows (scrub_duplicated_spans, cosine_topk_ivf_kmeans), a
# dedup row and two rows whose work crosses the Arrow boundary to Python
# workers; the SQL picks never touch dedup, the session caches or
# table_log.
SQL_QUERIES = {
    "inventory": ["pricing_summary"],
    "inventory_windows": ["daily_ohlc"],
    "inventory_temporal": ["error_time_to_resolution"],
    "inventory_sketches": ["distinct_users_hll_portable"],
    "inventory_extended": ["customer_order_status"],
    "inventory_profiles": ["demand_by_month"],
    "inventory_streaming": ["capacity_alerts_batch"],
    "inventory_sim": ["generated_rides"],
}
CORPUS_QUERIES = {
    "inventory_docs": ["minhash_lsh_dups"],
    "inventory_text": ["language_id"],
    "inventory_corpus": ["scrub_duplicated_spans"],
    "inventory_vectors": ["cosine_topk_ivf_kmeans"],
    "inventory_multimodal": ["video_frame_sample"],
}
QUERY_SUBSET = {**SQL_QUERIES, **CORPUS_QUERIES}
WORKLOAD_TABLES = {"lakehouse_queries": TABLES, "lakehouse_ingest": ("events",)}
# Warm passes (ingest: warm rounds) the metrics use. The count is fixed
# because a fresh JVM is still compiling and sizing its heap during these
# passes, so a varying count would move the metrics. lakehouse_queries
# runs its output check between the cold pass and the warm passes, so the
# check's collects warm the JVM before the first measured pass. Its warm
# passes still speed up pass after pass, and contention on a shared host
# slows that climb for a whole run; in one set of ten seeds warm_pass_s
# spread 0.34 with two measured passes and 0.25 with three, so it takes
# four. A traced run makes four, untraced and traced in ABBA order.
WARM = {"lakehouse_queries": 4, "lakehouse_ingest": 2}
TRACED_WARM = 4


class Recorder:
    """Times operations. In a traced run Spark's event log is on and each
    operation gets two job groups (``<op>|b`` while the plan is built,
    ``<op>|x`` while it runs), so the log attributes every job to one
    operation and phase. ``tracing(False)`` detaches the event-log
    listener and stops the tagging, which gives the untraced passes the
    traced run is compared with."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.on = traced
        self.ops: list[dict] = []
        self._epoch0 = time.time() - time.perf_counter()
        if traced:
            jsc = self.sc._jsc.sc()
            self._bus, self._listener = jsc.listenerBus(), jsc.eventLogger().get()

    def tracing(self, on: bool) -> None:
        if self.traced and on != self.on:
            if on:
                self._bus.addToEventLogQueue(self._listener)
            else:
                # waits until the listener has written every queued event
                self._bus.removeListener(self._listener)
            self.on = on

    def now(self) -> float:
        """Epoch seconds on the perf_counter timebase (no wall-clock steps)."""
        return self._epoch0 + time.perf_counter()

    def _group(self, gid: str) -> None:
        if self.on:
            self.sc.setJobGroup(gid, gid)

    def run(self, pass_no: int, name: str, module: str, kind: str, execute, build=None):
        """Time ``execute(build())`` (``execute(None)`` without a build
        step). Either may raise; that is recorded as a failed operation
        and never aborts the run."""
        op_id = f"op{len(self.ops)}"
        rec = {"id": op_id, "pass": pass_no, "name": name, "module": module, "kind": kind,
               "traced": self.on, "ok": True, "error": None, "result": None}
        t0 = self.now()
        t1 = None
        try:
            self._group(op_id + "|b")
            built = build() if build else None
            t1 = self.now()
            self._group(op_id + "|x")
            rec["result"] = execute(built)
        except Exception as exc:  # noqa: BLE001 — a failed op is a measured outcome
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
            traceback.print_exc(file=sys.stderr)
        t2 = self.now()
        self._group("idle")
        t1 = t2 if t1 is None else t1
        rec.update(t0=t0, t1=t1, t2=t2, build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
        self.ops.append(rec)
        return rec


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_pass(warm_index: int) -> bool:
    """Warm passes of a traced run alternate untraced/traced in ABBA order
    (U T T U U T T U ...), so warm-up drift cancels in the comparison."""
    return (warm_index - 1) % 4 in (1, 2)


def measured_warm(ctx) -> int:
    return TRACED_WARM if ctx["traced"] else WARM[ctx["workload"]]


def enough(ctx, passes: list) -> bool:
    """Done once the measured warm passes are made and --seconds have
    passed; passes beyond the measured ones stay out of the metrics."""
    return (len(passes) - 1 >= measured_warm(ctx)
            and time.perf_counter() - ctx["timed_start"] >= ctx["seconds"])


def begin_pass(ctx, p: int) -> None:
    ctx["rec"].tracing(p == 0 or traced_pass(p))


# ---------------------------------------------------------------------------
# lakehouse_queries
# ---------------------------------------------------------------------------

def run_queries(ctx, subset: dict[str, list[str]]) -> dict:
    from open_data_lakehouse_demo_spark.plans.inventory import QUERIES

    spark, rec, sf_dir = ctx["spark"], ctx["rec"], ctx["sf_dir"]
    names = [(m, n) for m, ns in subset.items() for n in ns]
    rng = random.Random(ctx["seed"])
    passes = []
    while True:
        p = len(passes)
        order = rng.sample(names, len(names))
        begin_pass(ctx, p)
        t0 = time.perf_counter()
        for module, name in order:
            q = QUERIES[name]
            rec.run(p, name, module, "query", noop_sink, lambda q=q: q.spark(spark, sf_dir))
        passes.append(time.perf_counter() - t0)
        if p == 0:
            rec.tracing(False)
            ctx["checks"] = check_queries(ctx, subset)
        if enough(ctx, passes):
            break
    ctx["rec"].tracing(True)
    out = {"passes": passes, "measured_warm": measured_warm(ctx)}
    if ctx["traced"]:
        out["cache_cold"] = cache_cold_runs(ctx, names)
    return out


def cache_cold_runs(ctx, names) -> list[dict]:
    """Re-run each cache-backed query of the subset after dropping its
    session cache (plans.cache_registry.cold_specs), so the cache build
    is priced without the fresh-JVM warm-up the first pass also pays."""
    from open_data_lakehouse_demo_spark.plans.cache_registry import cold_specs
    from open_data_lakehouse_demo_spark.plans.inventory import QUERIES

    spark, rec, sf_dir = ctx["spark"], ctx["rec"], ctx["sf_dir"]
    clear = {name: fn for name, fn, _desc in cold_specs()}
    runs = []
    for module, name in names:
        if name in clear:
            clear[name]()
            q = QUERIES[name]
            r = rec.run(-1, name, module, "cache_cold", noop_sink, lambda q=q: q.spark(spark, sf_dir))
            runs.append({"name": name, "wall_s": r["wall_s"], "ok": r["ok"]})
    return runs


def check_queries(ctx, subset) -> list[dict]:
    """Untimed: collect each query once more and compare its
    order-insensitive row hash with the stored reference."""
    from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
    from tools._oracle_hash import hash_rows

    out = []
    for ns in subset.values():
        for name in ns:
            ref = ctx["reference"]["queries"].get(name)
            res = {"check": name, "ok": False, "source": ref and ref["source"]}
            try:
                df = QUERIES[name].spark(ctx["spark"], ctx["sf_dir"])
                rows = [tuple(r) for r in df.collect()]
                res.update(rows=len(rows), hash=hash_rows(df.columns, rows))
                res["ok"] = ref is not None and (res["hash"], res["rows"]) == (ref["hash"], ref["rows"])
            except Exception as exc:  # noqa: BLE001 — a failed check is counted, not fatal
                res["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
            out.append(res)
    return out


# ---------------------------------------------------------------------------
# lakehouse_ingest
# ---------------------------------------------------------------------------

def ingest_plan(seed: int, n_events: int) -> dict:
    """The seeded operation sequence: key slices and batch boundaries.
    Appends take fresh event ids in order; every other verb targets a
    random slice of ids already in the table."""
    rng = random.Random(seed)
    cursor = rng.randrange(n_events // 4, n_events // 3)
    plan = {"initial": cursor, "rounds": []}

    def slice_(width):
        a = rng.randrange(0, max(1, cursor - width))
        return a, a + width

    while cursor + 2 * 500 + 50 <= n_events:
        r = {"appends": []}
        for _ in range(2):
            size = rng.randrange(200, 500)
            r["appends"].append((cursor, cursor + size))
            cursor += size
        r["merge_old"] = slice_(150)
        r["merge_new"] = (cursor, cursor + 50)
        cursor += 50
        r["read_where"] = slice_(400)
        r["delete_rows_mor"] = slice_(100)
        r["delete_rows"] = slice_(100)
        r["delete_where"] = slice_(300)
        r["update_where"] = slice_(100)
        plan["rounds"].append(r)
    plan["end"] = cursor
    return plan


def _range_where(ab):
    return [("event_id", ">=", ab[0]), ("event_id", "<", ab[1])]


def _range_col(ab):
    from pyspark.sql import functions as F

    return (F.col("event_id") >= ab[0]) & (F.col("event_id") < ab[1])


def _delete_where_sql(ab) -> str:
    return f"event_id >= {ab[0]} AND event_id < {ab[1]} AND user_id % 3 = 0"


def _merge_source(events, r):
    from pyspark.sql import functions as F

    return events.filter(_range_col(r["merge_old"]) | _range_col(r["merge_new"])).withColumn(
        "value", F.col("value") + F.lit(1000.0))


def ingest_round(ctx, i: int, r: dict, scans: list, as_of: list) -> None:
    """One round of the plan: appends, a merge, the deletes and the reads."""
    from pyspark.sql import functions as F

    from open_data_lakehouse_demo_spark.sources import table_log as tl

    spark, rec, events, path = ctx["spark"], ctx["rec"], ctx["events"], ctx["table"]
    for ab in r["appends"]:
        rec.run(i, "append", "table_log", "append", lambda df: tl.append(spark, path, df),
                lambda ab=ab: events.filter(_range_col(ab)))
    as_of.append(int(time.time() * 1000) + 1)
    # merge and delete_where rewrite the whole table, which folds in
    # any deletion vector; the merge-on-read delete goes last so the
    # reads after it pay the deletion-vector anti-join
    rec.run(i, "merge", "table_log", "upsert",
            lambda src: tl.merge(spark, path, src, on=["event_id"]),
            lambda: _merge_source(events, r))
    rec.run(i, "delete_where", "table_log", "delete",
            lambda _: tl.delete_where(spark, path, _delete_where_sql(r["delete_where"])))
    rec.run(i, "delete_rows", "table_log", "delete",
            lambda _: tl.delete_rows(spark, path, _range_where(r["delete_rows"])))
    rec.run(i, "update_where", "table_log", "delete",
            lambda _: tl.update_where(spark, path, _range_where(r["update_where"]),
                                      {"value": "value * 2"}))
    rec.run(i, "delete_rows_mor", "table_log", "delete",
            lambda _: tl.delete_rows_mor(spark, path, _range_where(r["delete_rows_mor"])))
    where = _range_where(r["read_where"])
    scan = rec.run(i, "plan_scan", "table_log", "plan", lambda _: tl.plan_scan(path, where))
    if scan["ok"]:
        keep, skip = scan.pop("result")
        scans.append({"candidates": len(keep), "skipped": len(skip)})
    rec.run(i, "read_where", "table_log", "read",
            lambda df: df.agg(F.count("*"), F.sum("value")).collect(),
            lambda: tl.read_where(spark, path, where))
    rec.run(i, "read", "table_log", "read",
            lambda df: df.groupBy("event_type").agg(F.count("*"), F.sum("value")).collect(),
            lambda: tl.read(spark, path))
    ts = as_of[-1]
    rec.run(i, "read_asof", "table_log", "read", lambda df: df.count(),
            lambda: tl.read(spark, path, as_of_ts_ms=ts))


def run_ingest(ctx) -> dict:
    """Exactly the cold round and the measured warm rounds, then the layout,
    both compactions and (traced) the streaming drain. Rounds that only
    fill --seconds run later, after the output check (fill_ingest), so the
    table that is compacted and checked never depends on the clock."""
    from open_data_lakehouse_demo_spark.sources import table_log as tl

    spark, rec, path = ctx["spark"], ctx["rec"], ctx["table"]
    passes, scans, as_of = [], [], []
    for i, r in enumerate(ctx["plan"]["rounds"][:1 + measured_warm(ctx)]):
        begin_pass(ctx, i)
        t0 = time.perf_counter()
        ingest_round(ctx, i, r, scans, as_of)
        passes.append(time.perf_counter() - t0)
    ctx["rec"].tracing(True)
    layout = table_layout(path)
    n = len(passes)
    rec.run(n, "compact_small_files", "table_log", "compact",
            lambda _: tl.compact_small_files(spark, path))
    rec.run(n, "compact", "table_log", "compact", lambda _: tl.compact(spark, path))
    # the streaming drain is a per-layer measurement: traced runs only
    stream = run_stream(ctx, n) if ctx["traced"] else {}
    return {"passes": passes, "measured_warm": measured_warm(ctx),
            "rounds_done": len(passes), "scans": scans,
            "layout_before_compact": layout, "stream": stream}


def fill_ingest(ctx, timed: dict) -> int:
    """Run the plan's remaining rounds, recorded but outside every metric,
    while the timed phase has lasted less than --seconds; returns how many
    ran. Called after the output check and the amplification figures."""
    rounds = ctx["plan"]["rounds"][timed["rounds_done"]:]
    n = 0
    while n < len(rounds) and time.perf_counter() - ctx["timed_start"] < ctx["seconds"]:
        ingest_round(ctx, timed["rounds_done"] + 1 + n, rounds[n], [], [])
        n += 1
    return n


def run_stream(ctx, pass_no: int) -> dict:
    """Replay every event as a bus-update envelope file set, then drain it
    with run_pipeline(available_now=True)."""
    from open_data_lakehouse_demo_spark.streaming import job, replay

    spark, rec, work = ctx["spark"], ctx["rec"], ctx["work"]
    src = os.path.join(work, "stream_src")
    gen = rec.run(pass_no, "replay_gen", "streaming", "replay",
                  lambda up: replay.replay_to_json_files(up, src, n_batches=16),
                  lambda: replay.events_as_bus_updates(ctx["events"]))
    out = {"envelopes": ctx["n_events"], "src": src}

    def drain(_):
        alerts_q, state_q = job.run_pipeline(
            spark, src, os.path.join(work, "ckpt"), os.path.join(work, "alerts"),
            os.path.join(work, "bus_state"), available_now=True)
        for q in (alerts_q, state_q):
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        return {"run_ids": [str(q.runId) for q in (alerts_q, state_q)],
                "progress": [[json.loads(p.json) for p in q.recentProgress]
                             for q in (alerts_q, state_q)]}

    if gen["ok"]:
        r = rec.run(pass_no, "run_pipeline", "streaming", "stream", drain)
        if r["ok"]:
            out.update(r.pop("result"))
    return out


def latest_manifest(path: str) -> tuple[str, dict]:
    """Path and contents of the latest snapshot's manifest."""
    from open_data_lakehouse_demo_spark.sources import table_log as tl

    manifest = os.path.join(path, "_log", f"{tl.describe(path)['snapshot']:08d}.json")
    with open(manifest) as f:
        return manifest, json.load(f)


def table_layout(path: str) -> dict:
    """Live files, deletion-vector files and manifest size of the latest
    snapshot, read from the table's own log."""
    manifest, m = latest_manifest(path)
    return {"live_files": len(m["files"]), "dv_files": len(m.get("delete_vectors") or []),
            "manifest_kb": os.path.getsize(manifest) / 1024.0}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


def ingest_amplification(ctx) -> dict:
    """write_amp and space_amp (traced runs only; they cost an extra write).
    write_amp: data-file bytes the table gained over the bytes of all user
    rows it was given, written once. space_amp: table directory bytes over
    the bytes of the latest snapshot's live files."""
    spark, path, events, plan = ctx["spark"], ctx["table"], ctx["events"], ctx["plan"]
    user = events.filter(_range_col((0, plan["initial"])))
    for r in plan["rounds"][:ctx["rounds_done"]]:
        for ab in r["appends"]:
            user = user.unionByName(events.filter(_range_col(ab)))
        user = user.unionByName(_merge_source(events, r))
    once = os.path.join(ctx["work"], "written_once")
    user.write.mode("overwrite").parquet(once)
    data_b = dir_bytes(os.path.join(path, "data"))
    _manifest, m = latest_manifest(path)
    live_b = sum(os.path.getsize(os.path.join(path, f))
                 for f in m["files"] + (m.get("delete_vectors") or []))
    return {"bytes_written_mb": data_b / 1e6, "write_amp": data_b / dir_bytes(once),
            "space_amp": dir_bytes(path) / live_b}


def check_ingest(ctx) -> list[dict]:
    """Untimed: compare the final table and, after a streaming drain, the
    alert rows and the bus-state rows with a batch twin built from the
    same seeded inputs using plain DataFrame operations."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from open_data_lakehouse_demo_spark.sources import table_log as tl
    from tools._oracle_hash import hash_rows

    spark, events, plan = ctx["spark"], ctx["events"], ctx["plan"]
    work = ctx["work"]

    def twin_table():
        t = events.filter(_range_col((0, plan["initial"])))
        for r in plan["rounds"][:ctx["rounds_done"]]:
            for ab in r["appends"]:
                t = t.unionByName(events.filter(_range_col(ab)))
            src = _merge_source(events, r)
            t = t.join(src.select("event_id"), "event_id", "left_anti").unionByName(src)
            t = t.filter(~F.expr(_delete_where_sql(r["delete_where"])))
            t = t.filter(~_range_col(r["delete_rows"]))
            t = t.withColumn("value", F.when(_range_col(r["update_where"]), F.col("value") * 2)
                             .otherwise(F.col("value")))
            t = t.filter(~_range_col(r["delete_rows_mor"]))
        return t

    envelope = ("id BIGINT, timestamp TIMESTAMP, data STRUCT<bus_ride_id: STRING, "
                "bus_line_id: BIGINT, bus_line: STRING, bus_stop_id: BIGINT, "
                "bus_stop_index: INT, timestamp_at_stop: TIMESTAMP, passengers_in_stop: BIGINT, "
                "passengers_boarding: BIGINT, remaining_at_stop: BIGINT, total_passengers: BIGINT, "
                "total_capacity: BIGINT, last_stop: BOOLEAN>")

    def parsed():
        src = ctx["stream"]["src"]
        return spark.read.schema(envelope).json(src).select("id", "data.*")

    def twin_alerts():
        return parsed().filter(F.col("remaining_at_stop") >= 1).select(
            F.to_json(F.struct("bus_ride_id", "bus_line", "bus_stop_id", "remaining_at_stop",
                               "timestamp_at_stop")).alias("value"))

    def twin_state():
        w = Window.partitionBy("bus_line_id").orderBy(F.col("timestamp_at_stop").desc(),
                                                      F.col("bus_ride_id").desc())
        return (parsed().withColumn("rn", F.row_number().over(w)).filter("rn = 1")
                .filter(~F.col("last_stop"))
                .select("bus_line_id", "bus_line", "remaining_at_stop", "total_passengers",
                        "total_capacity", F.col("timestamp_at_stop").alias("update_timestamp")))

    checks = [("table_rows", lambda: tl.read(spark, ctx["table"]), twin_table)]
    if ctx["stream"]:
        checks += [
            ("alert_rows", lambda: spark.read.schema("value STRING").json(os.path.join(work, "alerts")),
             twin_alerts),
            ("bus_state_rows", lambda: spark.read.parquet(os.path.join(work, "bus_state")), twin_state),
        ]
    out = []
    for name, got_fn, want_fn in checks:
        res = {"check": name, "ok": False, "source": "batch twin"}
        try:
            got, want = got_fn(), want_fn()
            cols = sorted(want.columns)
            g = [tuple(r) for r in got.select(*cols).collect()]
            w = [tuple(r) for r in want.select(*cols).collect()]
            res.update(rows=len(g), want_rows=len(w), hash=hash_rows(cols, g),
                       want_hash=hash_rows(cols, w))
            res["ok"] = len(g) > 0 and res["hash"] == res["want_hash"]
        except Exception as exc:  # noqa: BLE001 — a failed check is counted, not fatal
            res["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
        out.append(res)
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--spawned", type=float, required=True, help="parent's time.monotonic() at spawn")
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--reference", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    traced = bool(a.trace)

    from open_data_lakehouse_demo_spark.session import get_spark
    from open_data_lakehouse_demo_spark.sources.io import read_parquet

    extra = None
    if traced:
        log_dir = os.path.join(a.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.compress": "false"}
    t0 = time.perf_counter()
    spark = get_spark(cpus=a.cpus, extra_conf=extra)
    t1 = time.perf_counter()
    ctx = {"spark": spark, "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "traced": traced,
           "sf_dir": a.data, "work": a.work, "rec": Recorder(spark, traced)}
    setup = {"session.get_spark_s": t1 - t0}
    if a.workload == "lakehouse_ingest":
        import pyarrow.parquet as pq

        events_file = os.path.join(a.data, "events.parquet")
        events = read_parquet(spark, events_file)
        t2 = time.perf_counter()
        n_events = pq.ParquetFile(events_file).metadata.num_rows
        plan = ingest_plan(a.seed, n_events)
        ctx.update(events=events, n_events=n_events, plan=plan,
                   table=os.path.join(a.work, "events_log"))
        from open_data_lakehouse_demo_spark.sources import table_log as tl

        t3 = time.perf_counter()
        tl.create(spark, ctx["table"], events.filter(_range_col((0, plan["initial"]))))
        t4 = time.perf_counter()
        setup.update({"io.scan_resolve_s": t2 - t1, "table_log.create_s": t4 - t3})
    else:
        from open_data_lakehouse_demo_spark.plans.inventory import t as resolve

        for name in WORKLOAD_TABLES[a.workload]:
            resolve(spark, a.data, name)
        setup["io.scan_resolve_s"] = time.perf_counter() - t1
    setup_s = time.monotonic() - a.spawned
    app_id = spark.sparkContext.applicationId
    java = spark._jvm.java.lang.System.getProperty("java.version")

    ctx["timed_start"] = time.perf_counter()
    if a.workload == "lakehouse_queries":
        with open(a.reference) as f:
            ctx["reference"] = json.load(f)
        timed = run_queries(ctx, QUERY_SUBSET)
    else:
        timed = run_ingest(ctx)
        ctx["rounds_done"] = timed["rounds_done"]
        ctx["stream"] = timed["stream"]

    extra_out = {}
    if a.workload == "lakehouse_ingest":
        checks = check_ingest(ctx)
    else:
        checks = ctx["checks"]
    if traced and a.workload == "lakehouse_ingest":
        try:
            extra_out["amplification"] = ingest_amplification(ctx)
        except Exception as exc:  # noqa: BLE001 — reported in the run record
            extra_out["amplification_error"] = repr(exc)[:400]
    if a.workload == "lakehouse_ingest":
        timed["fill_rounds"] = fill_ingest(ctx, timed)
    spark.stop()

    result = {"workload": a.workload, "seed": a.seed, "traced": traced, "setup_s": setup_s,
              "setup": setup, "app_id": app_id, "java_version": java,
              "ops": ctx["rec"].ops, "timed": timed, "checks": checks, **extra_out}
    for op in result["ops"]:
        op.pop("result", None)
    if a.workload == "lakehouse_ingest":
        result["timed"]["stream"].pop("src", None)
    tmp = a.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f, default=str)
    os.replace(tmp, a.out)


if __name__ == "__main__":
    main()
