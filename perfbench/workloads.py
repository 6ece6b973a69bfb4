"""The three workloads, driven only through the engine's public surface:
``ManifestStore``, ``run_cascade`` / ``run_rollup_job``, ``api_query`` /
``api_query_hist`` / ``build_tagged_tier``, ``read_rollup``,
``pruned_read`` and ``decode_chunks``.

Each workload is a closed loop with one client and returns its ops
attempted and failed, its end-to-end metrics and its op walls.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from urllib.parse import urlparse

import checks
import gen
import trace
from pyspark.sql import functions as F

from opentsdb_rollup_rust_spark.codec.gorilla import decode_chunks, encode_chunks, pruned_read
from opentsdb_rollup_rust_spark.operators.rollup import cascade_reagg, tumbling_rollup
from opentsdb_rollup_rust_spark.operators.tagquery import TagFilter
from opentsdb_rollup_rust_spark.plans.api_query import (
    Downsample,
    QuerySpec,
    RateOptions,
    api_query,
    api_query_hist,
    build_tagged_tier,
)
from opentsdb_rollup_rust_spark.plans.job import run_cascade, run_rollup_job
from opentsdb_rollup_rust_spark.plans.tier_router import read_rollup
from opentsdb_rollup_rust_spark.session import get_spark

#: product defaults of jobs/run_rollup.py
PRODUCT_JOB = dict(n_buckets=8, salts=8, derive_impl="arrow", encode=True)
#: the order run_cascade runs DEFAULT_TIERS in
TIER_ORDER = ("1m", "1h", "1d")
POINTS_PER_SEQUENCE = 6

CASCADE_SEQUENCES = 50_000
SETUP_REPS = 3
QUERY_POINTS = 300_000
HOT_HOST = "h000"
INGEST_BATCHES = 2
INGEST_BATCH_SEQUENCES = 25_000
#: ingest inputs do not depend on --seed: batches 2..K fail on a
#: program fault, and a failing operation's inputs stay fixed
INGEST_SEED = 0
#: stop starting new operations this long after process start, so a
#: run always ends well inside its time limit
START_BUDGET_S = 100.0

QUERY_CLASSES = ("raw", "tier", "pct", "rollup_read", "chunk_read")
GC_SPANS = ("store.append.sequences", "store.append.rollup", "store.append.chunks",
            "store.append.report", "job.1m", "job.1h", "job.1d", *QUERY_CLASSES)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in report order."""
    u = {"session.start_s": "s"}
    u.update({f"store.append.{k}_s": "s" for k in ("sequences", "rollup", "chunks", "report")})
    u.update({"store.commits": "count", "store.files_written": "files",
              "store.mb_written": "MB"})
    u.update({f"job.{t}_s": "s" for t in TIER_ORDER})
    u.update({"job.overhead_s": "s", "job.reprocess_ratio": "x"})
    u.update({"rollup.task_cpu_s": "s", "rollup.shuffle_write_mb": "MB",
              "rollup.python_mb": "MB"})
    u.update({"encode.task_cpu_s": "s", "encode.python_mb": "MB", "encode.chunks": "chunks",
              "encode.points": "pt"})
    u.update({"decode.points": "pt", "decode.points_per_s": "pt/s"})
    for c in QUERY_CLASSES:
        u.update({f"{c}.query_ms": "ms", f"{c}.plan_ms": "ms", f"{c}.exec_ms": "ms",
                  f"{c}.rows_scanned": "rows", f"{c}.files_read": "files",
                  f"{c}.shuffle_mb": "MB", f"{c}.task_cpu_s": "s"})
    for sp in GC_SPANS:
        u.update({f"{sp}.gc_s": "s", f"{sp}.spill_mb": "MB"})
    u.update({"trace.op_wall_s": "s", "trace.span_coverage": "share"})
    return u


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One run: host settings, the Spark session, the tracer and the
    checker connection."""

    def __init__(self, args, work: str, cores: int, heap_gb: int, t_process: float):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.cores = cores
        self.heap_gb = heap_gb
        self.t_process = t_process
        self.cache = gen.InputCache(os.path.join(os.path.dirname(work), "cache"))
        self.gen_s = 0.0
        self.spark = None
        self.tracer = None
        self.stores = 0
        self.con = checks.connect(os.path.join(work, "duckdb"), cores)
        self.problems: list[str] = []
        self.session_s = 0.0
        self.encode_per_op = (0.0, 0.0)

    # ------------------------------------------------------------ set-up

    def inputs(self, key: str, build) -> dict[str, str]:
        t = time.monotonic()
        paths = self.cache.get(key, build)
        self.gen_s += time.monotonic() - t
        return paths

    def start_session(self) -> float:
        """Start Spark; returns process-start-to-session seconds,
        input generation excluded."""
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": f"{self.heap_gb}g",
            # the product's collector and full-heap preset; the heap is
            # touched at start so no op pays first-touch page faults,
            # no /tmp perf-data file, a private temp dir
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseG1GC -Xms{self.heap_gb}g -XX:+AlwaysPreTouch "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.tracer = trace.Tracer(self.spark, self.args.trace)
        self.session_s = time.monotonic() - self.t_process - self.gen_s
        self.mark("session started")
        return self.session_s

    def new_store(self) -> trace.TracedStore:
        self.stores += 1
        root = os.path.join(self.work, f"store{self.stores}")
        return trace.TracedStore(self.spark, root, self.tracer)

    def between_ops(self) -> None:
        """Drop cached frames (api_query persists its downsampled frame
        and never releases it, so a repeated query would be answered
        from the previous op's cache) and collect the JVM heap."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def mark(self, label: str) -> None:
        """Phase timeline on stderr."""
        print(f"perfbench: {time.monotonic() - self.t_process:7.2f}s {label}", file=sys.stderr)

    def out_of_time(self) -> bool:
        return time.monotonic() - self.t_process > START_BUDGET_S

    # ------------------------------------------------------------ store facts

    def table_files(self, store) -> dict[str, list[str]]:
        """Data files of each table's current snapshot."""
        out = {}
        for t in sorted(os.listdir(store.root)):
            if store.exists(t):
                out[t] = sorted(urlparse(u).path for u in store.read(t).inputFiles())
        return out

    def store_facts(self, store) -> dict[str, float]:
        files = self.table_files(store)
        every = [f for fs in files.values() for f in fs]
        chunk_files = [f for t, fs in files.items() if t.startswith("chunks_") for f in fs]
        _, points, enc = checks.chunk_stats(self.con, chunk_files)
        return {
            "store_files": len(every),
            "store_mb": sum(os.path.getsize(f) for f in every) / 1e6,
            "bytes_per_point": enc / points if points else 0.0,
        }

    def decoded_tiers(self, store) -> dict:
        return {t: decode_chunks(store.read(f"chunks_{t}")).toArrow()
                for t in TIER_ORDER if store.exists(f"chunks_{t}")}


# ---------------------------------------------------------------- cascade

def cascade_op(b: Bench, store) -> None:
    if b.tracer.enabled:
        # run_cascade is this loop; spelled out so each tier is a span
        for tier in TIER_ORDER:
            with b.tracer.span(f"job.{tier}"):
                run_rollup_job(b.spark, store, tier, **PRODUCT_JOB)
    else:
        run_cascade(b.spark, store, **PRODUCT_JOB)


def run_cascade_workload(b: Bench) -> dict:
    n = CASCADE_SEQUENCES
    seq = b.inputs(f"seq-s{b.seed}-n{n}",
                   lambda: {"sequences": gen.sequences_table(b.seed, n)})["sequences"]
    session_s = b.start_session()
    stores, appends = [], []
    for _ in range(SETUP_REPS):
        store = b.new_store()
        with b.tracer.span("setup"):
            t = time.monotonic()
            store.append("sequences", b.spark.read.parquet(seq))
            appends.append(time.monotonic() - t)
        stores.append(store)
    setup_s = session_s + median(appends)
    b.mark("set up")

    walls, failed, used = [], 0, []
    t_begin = time.monotonic()
    while not (walls or failed) or (
            time.monotonic() - t_begin < b.seconds and not b.out_of_time()):
        if len(used) < len(stores):
            store = stores[len(used)]
        else:
            store = b.new_store()
            store.append("sequences", b.spark.read.parquet(seq))
        b.between_ops()
        t = time.monotonic()
        try:
            with b.tracer.span("op", new_sequences=n):
                cascade_op(b, store)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            failed += 1
            print(f"perfbench: cascade op failed: {e!r}", file=sys.stderr)
            continue
        walls.append(time.monotonic() - t)
        used.append(store)

    b.mark(f"{len(walls)} ops timed")
    checks.load_input(b.con, [seq])
    for store in used:
        b.problems += checks.check_write_store(b.con, b.table_files(store),
                                               b.decoded_tiers(store))
    b.mark("checked")
    facts = b.store_facts(used[-1]) if used else {}
    if b.tracer.enabled:
        b.encode_per_op = encode_counts(b, used)
    return {
        "attempted": len(walls) + failed,
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "op_ms": median(walls) * 1e3,
            "points_per_s": POINTS_PER_SEQUENCE * n / median(walls) if walls else 0.0,
            **facts,
        },
        "walls": walls,
    }


# ---------------------------------------------------------------- query

def query_specs():
    start, end = gen.T0, gen.T0 + gen.HORIZON
    host_all = TagFilter("wildcard", "host", "*", group_by=True)
    prod = TagFilter("literal_or", "env", "prod")
    raw = QuerySpec(metric="sys.cpu", start=start, end=end, aggregator="sum",
                    filters=(host_all, prod), downsample=Downsample("1h", "sum", "zero"),
                    rate=RateOptions())
    tier = QuerySpec(metric="sys.cpu", start=start, end=end, aggregator="sum",
                     filters=(host_all, prod), downsample=Downsample("7200s", "sum", "zero"),
                     rate=RateOptions())
    pct = QuerySpec(metric="sys.cpu", start=start, end=end, aggregator="sum",
                    filters=(host_all,), downsample=Downsample("1d", "sum", "none"))
    return raw, tier, pct


PERCENTILES = (500, 950, 990)
CHUNK_RANGE = (gen.T0 + gen.HORIZON // 4, gen.T0 + 3 * gen.HORIZON // 4)


def query_classes(store):
    """Query class -> callable building its DataFrame from the store."""
    raw, tier, pct = query_specs()
    kw = dict(metric_col="metric")
    return {
        "raw": lambda: api_query(store.read("points"), raw, **kw),
        "tier": lambda: api_query(store.read("points"), tier, tier=store.read("tier_1h"),
                                  tier_interval="1h", **kw),
        "pct": lambda: api_query_hist(store.read("points"), pct, PERCENTILES, **kw),
        "rollup_read": lambda: read_rollup(store, 7200, fill="zero"),
        "chunk_read": lambda: pruned_read(store.read("chunks_1m"), *CHUNK_RANGE),
    }


def run_query_workload(b: Bench) -> dict:
    pts = b.inputs(f"pts-s{b.seed}-n{QUERY_POINTS}", lambda: dict(zip(
        ("points", "points_flat"), gen.points_tables(b.seed, QUERY_POINTS))))
    session_s = b.start_session()
    t = time.monotonic()
    store = b.new_store()
    with b.tracer.span("setup"):
        store.append("points", b.spark.read.parquet(pts["points"]))
        points = store.read("points")
        store.append("tier_1h", build_tagged_tier(points, "1h", metric_col="metric"))
        # untagged tiers and chunks of the hot host's sys.cpu series,
        # written with the operators run_rollup_job composes (a cold
        # run_cascade would take half of the run's time budget)
        host = F.element_at("tags", F.lit("host"))
        untagged = points.where((F.col("metric") == "sys.cpu") & (host == HOT_HOST)).select(
            F.concat_ws("|", "metric", host, F.element_at("tags", F.lit("cpu")))
            .alias("series_id"), "ts", "value")
        store.append("rollup_1m", tumbling_rollup(untagged, "1m"))
        store.append("rollup_1h", cascade_reagg(store.read("rollup_1m"), "1h"))
        store.append("chunks_1m", encode_chunks(store.read("rollup_1m"), "1m"))
    setup_s = session_s + time.monotonic() - t
    b.mark("set up")

    classes = query_classes(store)
    passes: list[dict] = []

    def one_pass() -> dict:
        """Class -> collected result; each class span records its call
        (plan) and collect (exec) seconds."""
        res = {}
        with b.tracer.span("op"):
            for c, build in classes.items():
                with b.tracer.span(c) as a:
                    t0 = time.monotonic()
                    df = build()
                    t1 = time.monotonic()
                    res[c] = df.toArrow()
                    a.update(plan_s=t1 - t0, exec_s=time.monotonic() - t1)
        return res

    walls = []
    t_begin = time.monotonic()
    while not passes or (time.monotonic() - t_begin < b.seconds and not b.out_of_time()):
        b.between_ops()
        t = time.monotonic()
        passes.append(one_pass())
        walls.append(time.monotonic() - t)

    b.mark(f"{len(passes)} passes timed")
    # independent expectations, then every collected result against them
    files = b.table_files(store)
    flat = pts["points_flat"]
    start, end = gen.T0, gen.T0 + gen.HORIZON
    want = {
        "raw": checks.raw_rate_sql(flat, start, end, 3600),
        "tier": checks.raw_rate_sql(flat, start, end, 7200),
        "pct": checks.hist_sql(flat, start, end, 86400, PERCENTILES),
        "rollup_read": checks.rollup_read_sql(files["rollup_1m"], 7200),
        "chunk_read": checks.chunk_read_sql(files["rollup_1m"], *CHUNK_RANGE),
    }
    for c, sql in want.items():
        b.con.execute(f"CREATE OR REPLACE TEMP TABLE want_{c} AS {sql}")
    for p in passes:
        for c in QUERY_CLASSES:
            b.problems += checks.check_result(b.con, c, p[c], f"want_{c}")
    # tier routing must answer exactly what the raw path answers
    _, tier_spec, _ = query_specs()
    from_raw = api_query(store.read("points"), tier_spec, metric_col="metric").toArrow()
    b.con.register("tier_from_raw", from_raw)
    b.con.execute("CREATE OR REPLACE TEMP TABLE want_tier_raw AS "
                  "SELECT host, w_start, value FROM tier_from_raw")
    b.problems += [f"tier vs raw path: {p}" for p in
                   checks.check_result(b.con, "tier", passes[-1]["tier"], "want_tier_raw")]

    b.mark("checked")
    decoded = checks.decoded_points_in(b.con, files["chunks_1m"], *CHUNK_RANGE)
    # rows of the tables the panel reads: raw and pct scan the point table
    rows_read = (2 * checks.count_rows(b.con, files["points"])
                 + checks.count_rows(b.con, files["tier_1h"])
                 + checks.count_rows(b.con, files["rollup_1h"]) + decoded)
    facts = b.store_facts(store)
    return {
        "attempted": len(passes) * len(QUERY_CLASSES),
        "failed": 0,
        "metrics": {
            "setup_s": setup_s,
            "op_ms": median(walls) * 1e3,
            "points_per_s": rows_read / median(walls),
            **facts,
        },
        "walls": walls,
        "decode_points": decoded,
    }


# ---------------------------------------------------------------- ingest

def run_ingest_workload(b: Bench) -> dict:
    k, n = INGEST_BATCHES, INGEST_BATCH_SEQUENCES
    batches = [
        b.inputs(f"seq-s{INGEST_SEED}-n{n}-at{i * n}",
                 lambda i=i: {"sequences": gen.sequences_table(INGEST_SEED, n, start=i * n)}
                 )["sequences"]
        for i in range(k)
    ]
    setup_s = b.start_session()

    walls, round_walls, failed = [], [], 0
    store = None
    t_begin = time.monotonic()
    while not round_walls or (time.monotonic() - t_begin < b.seconds and not b.out_of_time()):
        store = b.new_store()
        this_round = []
        for i, path in enumerate(batches):
            b.between_ops()
            t = time.monotonic()
            try:
                with b.tracer.span("op", new_sequences=n):
                    store.append("sequences", b.spark.read.parquet(path))
                    cascade_op(b, store)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                failed += 1
                print(f"perfbench: ingest batch {i + 1} failed: {e!r}", file=sys.stderr)
                continue
            this_round.append(time.monotonic() - t)
            # checked against everything ingested so far, outside the op
            checks.load_input(b.con, batches[: i + 1])
            problems = checks.check_write_store(b.con, b.table_files(store),
                                                b.decoded_tiers(store))
            if problems:
                failed += 1
                print(f"perfbench: ingest batch {i + 1} failed its checks:\n  "
                      + "\n  ".join(problems), file=sys.stderr)
                # the known incremental-run fault shows as duplicated
                # keys; any other problem means a wrong answer
                if not any("duplicated (series_id, window_start)" in p for p in problems):
                    b.problems += problems
        walls += this_round
        round_walls.append(sum(this_round))
        b.mark(f"round {len(round_walls)} done")

    facts = b.store_facts(store)
    if b.tracer.enabled:
        chunks, points = encode_counts(b, [store])
        b.encode_per_op = (chunks / k, points / k)
    return {
        "attempted": k * len(round_walls),
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "op_ms": median(walls) * 1e3,
            "points_per_s": (POINTS_PER_SEQUENCE * n * k / median(round_walls)
                             if median(round_walls) else 0.0),
            **facts,
        },
        "walls": walls,
    }


WORKLOADS = {
    "cascade": run_cascade_workload,
    "query": run_query_workload,
    "ingest": run_ingest_workload,
}


# ---------------------------------------------------------------- traced run

def per_layer(b: Bench, out: dict) -> dict[str, float]:
    """Per-layer metrics from the spans and the event log."""
    b.spark.stop()
    by_group = trace.parse_event_log(trace.find_event_log(os.path.join(b.work, "eventlog")),
                                     b.tracer.spans)
    idx = trace.SpanIndex(b.tracer.spans, by_group)
    ops = [s for s in idx.spans if s["name"] == "op" and s["parent"] is None]
    n_ops = max(1, len(ops))
    setups = [s for s in idx.spans if s["name"] == "setup"]
    m = {name: 0.0 for name in per_layer_units()}
    m["session.start_s"] = b.session_s

    def within(roots, name):
        return [d for r in roots for d in idx.descendants(r, name)]

    def scoped(name):
        return within(ops, name) or within(setups, name)

    for kind in ("sequences", "rollup", "chunks", "report"):
        spans = scoped(f"store.append.{kind}")
        roots = ops if within(ops, f"store.append.{kind}") else setups
        m[f"store.append.{kind}_s"] = sum(map(idx.wall, spans)) / max(1, len(roots))
    appends = [s for s in within(ops, None) if s["name"].startswith("store.append.")]
    m["store.commits"] = len(appends) / n_ops
    m["store.files_written"] = sum(s["attrs"].get("files", 0) for s in appends) / n_ops
    m["store.mb_written"] = sum(s["attrs"].get("bytes", 0) for s in appends) / 1e6 / n_ops

    overhead = 0.0
    for tier in TIER_ORDER:
        jobs = within(ops, f"job.{tier}")
        m[f"job.{tier}_s"] = sum(map(idx.wall, jobs)) / n_ops
        for j in jobs:
            overhead += idx.wall(j) - sum(idx.wall(c) for c in idx.children[j["id"]])
    m["job.overhead_s"] = overhead / n_ops
    ratios = []
    for op in ops:
        new = op["attrs"].get("new_sequences")
        for s in idx.descendants(op, "store.append.rollup"):
            if s["attrs"]["table"] == "rollup_1m" and new:
                ratios.append(idx.self_metrics[s["id"]]["records_read"] / new)
    m["job.reprocess_ratio"] = statistics.fmean(ratios) if ratios else 0.0

    base = [s for s in within(ops, "store.append.rollup") if s["attrs"]["table"] == "rollup_1m"]
    m["rollup.task_cpu_s"] = sum(idx.self_metrics[s["id"]]["cpu_s"] for s in base) / n_ops
    m["rollup.shuffle_write_mb"] = sum(
        idx.self_metrics[s["id"]]["shuffle_write_mb"] for s in base) / n_ops
    m["rollup.python_mb"] = sum(idx.self_metrics[s["id"]]["python_mb"] for s in base) / n_ops
    enc = within(ops, "store.append.chunks")
    m["encode.task_cpu_s"] = sum(idx.self_metrics[s["id"]]["cpu_s"] for s in enc) / n_ops
    m["encode.python_mb"] = sum(idx.self_metrics[s["id"]]["python_mb"] for s in enc) / n_ops
    m["encode.chunks"], m["encode.points"] = b.encode_per_op

    for c in QUERY_CLASSES:
        spans = within(ops, c)
        if not spans:
            continue
        inc = [idx.inclusive(s) for s in spans]
        m[f"{c}.query_ms"] = median([idx.wall(s) for s in spans]) * 1e3
        m[f"{c}.plan_ms"] = median([s["attrs"]["plan_s"] for s in spans]) * 1e3
        m[f"{c}.exec_ms"] = median([s["attrs"]["exec_s"] for s in spans]) * 1e3
        m[f"{c}.rows_scanned"] = statistics.fmean(i["records_read"] for i in inc)
        m[f"{c}.files_read"] = statistics.fmean(i["files_read"] for i in inc)
        m[f"{c}.shuffle_mb"] = statistics.fmean(i["shuffle_write_mb"] for i in inc)
        m[f"{c}.task_cpu_s"] = statistics.fmean(i["cpu_s"] for i in inc)
    if out.get("decode_points"):
        m["decode.points"] = out["decode_points"]
        m["decode.points_per_s"] = out["decode_points"] / (m["chunk_read.exec_ms"] / 1e3)

    for name in GC_SPANS:
        spans = scoped(name)
        roots = ops if within(ops, name) else setups
        inc = [idx.inclusive(s) for s in spans]
        m[f"{name}.gc_s"] = sum(i["gc_s"] for i in inc) / max(1, len(roots))
        m[f"{name}.spill_mb"] = sum(i["spill_mb"] for i in inc) / max(1, len(roots))

    m["trace.op_wall_s"] = median([idx.wall(s) for s in ops])
    m["trace.span_coverage"] = min((idx.coverage(s) for s in ops), default=0.0)

    trace_dir = os.path.join(os.path.dirname(b.work), "trace")
    os.makedirs(trace_dir, exist_ok=True)
    dump = os.path.join(trace_dir, f"{b.args.workload}-seed{b.seed}.json")
    with open(dump, "w") as f:
        json.dump({
            "workload": b.args.workload, "seed": b.seed, "metrics": m,
            "spans": [{**s, "spark": idx.self_metrics[s["id"]]} for s in idx.spans],
        }, f, indent=1, default=str)
    return m


def encode_counts(b: Bench, stores) -> tuple[float, float]:
    """Chunks and points encoded per op (cascade: every op's store
    holds exactly that op's chunks)."""
    if not stores:
        return 0.0, 0.0
    totals = [checks.chunk_stats(b.con, [f for t, fs in b.table_files(s).items()
                                         if t.startswith("chunks_") for f in fs])
              for s in stores]
    return (statistics.fmean(t[0] for t in totals), statistics.fmean(t[1] for t in totals))
