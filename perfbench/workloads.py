"""The benchmark's workloads, driven through the package's public entry
points from one driver process.

- ``curation``: dedup, similarity and text registry queries from
  ``__spark_entry__.queries()`` over seeded tables, each sent to the
  ``noop`` sink; a closed loop with one client.
- ``listing_lambda``: the speed layer
  (``streaming.speed_layer``) draining a staged backlog of Kafka-shaped
  envelopes into a partitioned lake, then an open-loop live phase, then
  the batch view (``count_by_key(read_lake(...))``).

Each run sets up ``Config.setups`` times (fresh session, fresh inputs, one
discarded warm-up pass) and reports the median, warms up further outside
every timed region, measures, optionally runs one traced pass, and checks
every result outside the timed regions.
"""

from __future__ import annotations

import gc
import glob
import itertools
import json
import os
import random
import re
import shutil
import subprocess
import threading
import time
import urllib.parse
from dataclasses import dataclass, field
from statistics import median

from perfbench import checks, datagen
from perfbench.trace import Tracer, catalyst_phases, percentile

#: dedup, similarity and text registry queries. The other six candidates
#: are left out to fit the run budget (see README.md).
CURATION = (
    "q_dedup_minhash_lsh", "q_dedup_clusters", "q_bpe_merges", "q_embed_ivfpq_topk",
)
#: untimed passes after the set-ups: the first pass after them is still
#: warming up (10-15% slower than the next in most runs). The passes keep
#: getting faster after it, but a second one did not narrow the spreads
#: (README.md)
WARM_PASSES = 1
#: measured passes per curation run, at least
MIN_PASSES = 3
#: the speed layer's view key and the partition a pruned read selects
VIEW_KEY = "quan_huyen"
PRUNED_SOURCE = "alonhadat"
#: rows per live file, as in the speed layer's reference measurement (2
#: files/s of about 3.3k rows, p50 freshness 0.33 s: one file per
#: micro-batch); and live files released per second. A 3.3k-row
#: micro-batch takes about 0.65 s on a 4-CPU host under load, so at 2
#: files/s batches merge files and freshness measures queueing; 1 file/s
#: keeps one file per batch (README.md).
LIVE_ROWS_PER_FILE = 3_300
LIVE_RATE = 1.0
#: share of envelope values that are not JSON records
MALFORMED_SHARE = 0.02
#: backlog drains in each set-up's warm-up. The cycles after the set-ups
#: still get faster for about six drains (2.3, 2.0, 1.9, 1.7, 1.7, 1.6 s):
#: ``Config.warm_cycles`` absorb most of that outside the set-ups
WARM_BACKFILLS = 1


@dataclass
class Config:
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    setups: int = 2
    #: scale factor of the generated analytical tables
    sf: float = 0.01
    # listing_lambda shape
    backfill_rows: int = 25_000
    backfill_files: int = 10
    live_rows_per_file: int = LIVE_ROWS_PER_FILE
    #: untimed warm-up cycles after the set-ups, then measured cycles
    warm_cycles: int = 2
    cycles: int = 5
    warm_live_files: int = 2


@dataclass
class Outcome:
    """What one run measured; turned into the result line by ``run.py``."""

    metrics: dict = field(default_factory=dict)  # end-to-end, name -> value
    layers: dict = field(default_factory=dict)  # per-layer, name -> value
    record: dict = field(default_factory=dict)  # everything else, for the record file
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------
# Session lifecycle
# --------------------------------------------------------------------------


class Session:
    """Starts, restarts and finally stops the SparkSession and its JVM."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None
        self.jvm_pid = None

    def start(self):
        from real_estate_bigdata_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        n = nproc()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                # a fixed-size heap: whether G1 grows it mid-run otherwise
                # differs from run to run
                "spark.driver.extraJavaOptions":
                    f"-Xms2g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
                # driver and executors share this JVM in local mode; the
                # curation pass fills the 1g default heap
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "20000",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def java_version(self) -> str:
        return self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None


def _clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _settle(spark) -> None:
    """Collect garbage in both processes before a timed pass or cycle, so
    that a collection the previous one left due does not land inside it."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


# --------------------------------------------------------------------------
# curation
# --------------------------------------------------------------------------


def pass_order(names, seed: int, pass_no: int) -> list[str]:
    """The seeded query order of one pass."""
    order = list(names)
    random.Random(f"{seed}:order:{pass_no}").shuffle(order)
    return order


def _batch_pass(spark, queries, order, tables, tracer=None, results=None):
    """Run ``order`` once, each query into the ``noop`` sink, or into
    ``results`` (name -> (DataFrame, pandas rows)) when given; returns
    ({name: latency_s}, [(name, error)])."""
    lat, failed = {}, []
    for name in order:
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = queries[name](spark, tables)
                if results is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    results[name] = (df, df.toPandas())
                lat[name] = time.perf_counter() - t0
                continue
            with tracer.span(f"query:{name}", query=name) as q:
                with tracer.span("build", layer="driver"):
                    df = queries[name](spark, tables)
                with tracer.span("plan", layer="catalyst") as s:
                    s.update(catalyst_phases(df))
                with tracer.span("action", layer="exec"):
                    df.write.format("noop").mode("overwrite").save()
            lat[name] = q["end"] - q["start"]
        except Exception as exc:  # a failing query is counted; the pass goes on
            failed.append((name, repr(exc)[:300]))
    return lat, failed


def run_curation(cfg: Config, session: Session) -> Outcome:
    import __spark_entry__ as entry

    out = Outcome()
    queries = entry.queries()
    names = CURATION
    setup_s, session_s = [], []
    tables, results = None, {}
    for k in range(cfg.setups):
        t0 = time.perf_counter()
        spark = session.start()
        session_s.append(time.perf_counter() - t0)
        if tables:
            _clean(tables)
        tables = datagen.write_tables(
            os.path.join(cfg.run_dir, f"tables{k}"), cfg.sf, cfg.seed)
        # the warm-up pass collects every result; the checks below use the
        # last set-up's rows, after the measured passes
        results.clear()
        _batch_pass(spark, queries, pass_order(names, cfg.seed, -1 - k), tables,
                    results=results)
        setup_s.append(time.perf_counter() - t0)

    failed = []
    for w in range(WARM_PASSES):
        _settle(spark)
        failed += _batch_pass(spark, queries, pass_order(names, cfg.seed, -10 - w), tables)[1]
    walls, lats = [], {}
    deadline = time.perf_counter() + cfg.seconds
    while len(walls) < MIN_PASSES or time.perf_counter() < deadline:
        _settle(spark)
        t0 = time.perf_counter()
        lat, bad = _batch_pass(spark, queries, pass_order(names, cfg.seed, len(walls)), tables)
        walls.append(time.perf_counter() - t0)
        for name, x in lat.items():
            lats.setdefault(name, []).append(x)
        failed.extend(bad)
    all_lats = [x for xs in lats.values() for x in xs]
    per_query = {n: median(xs) for n, xs in sorted(lats.items())}
    executions = (WARM_PASSES + len(walls)) * len(names)
    out.metrics = {
        "setup_s": median(setup_s),
        "wall_s": median(walls),
        # the median query of each query's median over passes
        "latency_p50_ms": 1e3 * median(per_query.values()),
    }
    out.record.update(
        setup_s_samples=setup_s, wall_s_samples=walls, passes=len(walls),
        query_p50_s=median(all_lats), query_p90_s=percentile(all_lats, 0.9),
        query_samples=len(all_lats), session_start_s_samples=session_s,
        query_latency_s=per_query,
        peak_rss_mb=session.peak_rss_mb(),
    )

    if cfg.trace:
        tracer = Tracer(spark)
        with tracer.span("pass") as root:
            _, bad = _batch_pass(spark, queries, pass_order(names, cfg.seed, 10_000),
                                 tables, tracer)
        failed.extend(bad)
        executions += len(names)
        tracer.collect()

    # result checks, outside every timed region
    oracles = entry.oracle_sql()
    oracle = checks.oracle_connection(tables, datagen.TABLES)
    wrong, out_rows = {}, {}
    try:
        for name in names:
            if name not in results:
                wrong[name] = "failed in the warm-up pass"
                continue
            df, pdf = results[name]
            out_rows[name] = len(pdf)
            if name in oracles:
                why = checks.compare_to_oracle(pdf, oracle.execute(oracles[name]).fetchdf())
            else:
                why = checks.check_rows_only(name, df, pdf)
            if why:
                wrong[name] = why
    finally:
        oracle.close()
    out.attempted = executions + len(names)
    out.failed = len(failed) + len(wrong) * (executions // len(names) + 1)
    out.problems = [f"{n}: {e}" for n, e in failed] + [f"{n}: {w}" for n, w in wrong.items()]
    out.record["output_rows"] = out_rows

    if cfg.trace:
        traced_wall = root["end"] - root["start"]
        out.layers = _common_layers(tracer, root, sum(out_rows.values()),
                                    median(session_s), median(walls), traced_wall)
        out.record["trace"] = {"traced_wall_s": traced_wall,
                               "untraced_wall_s": median(walls), "spans": tracer.spans}
    return out


def _span_sum(spans, name, key=None):
    sel = [s for s in spans if s["name"] == name]
    if key is None:
        return sum(s["end"] - s["start"] for s in sel)
    return sum(s["exec"][key] if key in s.get("exec", {}) else s[key] for s in sel)


#: the per-layer metrics of the result line, in BENCHMARK.json order
LAYER_METRICS = (
    "session.start_s", "driver.build_s", "driver.build_jobs", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "exec.action_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.noncpu_s", "exec.gc_s",
    "exec.sched_gap_s", "scan.input_bytes", "scan.input_rows", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.records", "spill.bytes", "output.rows",
    "shuffle.records_per_output_row", "trace.overhead_s",
)


def _common_layers(tracer, root, output_rows, session_start, untraced_wall, traced_wall):
    """The per-layer metrics every workload reports, summed over the
    traced pass rooted at ``root``."""
    spans = tracer.spans
    e = root["exec"]
    # counts and stage sums over the whole pass; span sums for the rest
    layers = {k: e[k] for k in LAYER_METRICS if k in e}
    layers.update({
        "session.start_s": session_start,
        "driver.build_s": _span_sum(spans, "build"),
        "driver.build_jobs": _span_sum(spans, "build", "exec.jobs"),
        "catalyst.analysis_s": _span_sum(spans, "plan", "catalyst.analysis_s"),
        "catalyst.optimization_s": _span_sum(spans, "plan", "catalyst.optimization_s"),
        "catalyst.planning_s": _span_sum(spans, "plan", "catalyst.planning_s"),
        "exec.action_s": _span_sum(spans, "action"),
        "exec.sched_gap_s": _span_sum(spans, "action", "exec.sched_gap_s"),
        "output.rows": output_rows,
        "shuffle.records_per_output_row": e["shuffle.records"] / max(1, output_rows),
        "trace.overhead_s": traced_wall - untraced_wall,
    })
    return {k: layers[k] for k in LAYER_METRICS}


# --------------------------------------------------------------------------
# listing_lambda
# --------------------------------------------------------------------------


@dataclass
class Staged:
    """Envelope files made in set-up, and the records they hold."""

    backlog: list  # envelope file paths
    backlog_records: list
    live: list
    live_records: list
    encode_s: float


def _write_envelopes(spark, records, n_files: int, out_dir: str) -> list[str]:
    """Encode ``records`` with ``write_kafka_envelopes`` and lay the
    envelopes out as ``n_files`` parquet files of about equal size."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from real_estate_bigdata_spark.schema import RAW_LISTING_SCHEMA
    from real_estate_bigdata_spark.streaming.speed_layer import write_kafka_envelopes

    cols = [f.name for f in RAW_LISTING_SCHEMA.fields]
    df = spark.createDataFrame(pd.DataFrame(records, columns=cols), RAW_LISTING_SCHEMA)
    encoded = os.path.join(out_dir, "encoded")
    write_kafka_envelopes(df, encoded)
    table = pq.read_table(encoded)
    paths = []
    for i, (a, b) in enumerate(itertools.pairwise(
            np.linspace(0, table.num_rows, n_files + 1).astype(int))):
        paths.append(os.path.join(out_dir, f"{i:05d}.parquet"))
        pq.write_table(table.slice(a, b - a), paths[-1], coerce_timestamps="us",
                       allow_truncated_timestamps=True)
    _clean(encoded)
    return paths


def _write_malformed(values, path: str) -> str:
    """Envelope rows whose value does not decode, as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    now = time.time_ns() // 1000
    pq.write_table(pa.table({
        "key": pa.array([f"bad-{i}".encode() for i in range(len(values))], pa.binary()),
        "value": pa.array(values, pa.binary()),
        "timestamp": pa.array([now] * len(values), pa.timestamp("us")),
    }), path)
    return path


def _stage(spark, cfg: Config, out_dir: str, live_files: int) -> Staged:
    """Generate and encode the backlog and the live file set."""
    back = datagen.listing_records(cfg.backfill_rows, cfg.seed, 1)
    live = datagen.listing_records((live_files - 1) * cfg.live_rows_per_file, cfg.seed, 2)
    n_bad_back = max(1, round(MALFORMED_SHARE * len(back)))
    n_bad_live = max(1, round(MALFORMED_SHARE * len(live)))
    bad = datagen.malformed_values(n_bad_back + n_bad_live, cfg.seed)
    t0 = time.perf_counter()
    backlog = _write_envelopes(spark, back, cfg.backfill_files, f"{out_dir}/backlog")
    live_paths = _write_envelopes(spark, live, live_files - 1, f"{out_dir}/live")
    encode_s = time.perf_counter() - t0
    backlog.append(_write_malformed(bad[:n_bad_back], f"{out_dir}/backlog-bad.parquet"))
    # the malformed live file is released mid-phase
    live_paths.insert(len(live_paths) // 2,
                      _write_malformed(bad[n_bad_back:], f"{out_dir}/live-bad.parquet"))
    return Staged(backlog, back + [None] * n_bad_back, live_paths,
                  live + [None] * n_bad_live, encode_s)


class Stream:
    """One speed-layer deployment: a watched source directory, its
    checkpoint and its lake."""

    def __init__(self, root: str):
        self.src, self.lake, self.ckpt = (os.path.join(root, d) for d in ("src", "lake", "ckpt"))
        os.makedirs(self.src)
        self.progress: list[dict] = []

    def start(self, spark, available_now: bool):
        from real_estate_bigdata_spark.streaming.speed_layer import (
            kafka_envelope_file_source,
            run_speed_layer,
        )

        return run_speed_layer(
            kafka_envelope_file_source(spark, self.src), self.lake, self.ckpt,
            available_now=available_now, processing_time="0 seconds",
        )

    def finish(self, query) -> None:
        if query.exception() is not None:
            raise RuntimeError(f"speed layer failed: {query.exception()}")
        self.progress += [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]

    def place(self, files) -> None:
        for i, f in enumerate(files):
            shutil.copyfile(f, os.path.join(self.src, f"backlog-{i:04d}.parquet"))

    def release(self, staged: str, name: str) -> None:
        """Atomically publish one staged file into the watched directory
        (dot-prefixed names are invisible to the file source)."""
        tmp = os.path.join(self.src, f".{name}")
        shutil.copyfile(staged, tmp)
        os.rename(tmp, os.path.join(self.src, name))

    def file_batches(self) -> dict[str, int]:
        """Source file name -> micro-batch id, from the checkpoint's
        ``sources/0`` log (including its ``.compact`` files)."""
        out = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            if not re.fullmatch(r"\d+(\.compact)?", os.path.basename(path)):
                continue
            with open(path) as fh:
                for line in fh.read().splitlines()[1:]:
                    if line.strip():
                        entry = json.loads(line)
                        name = os.path.basename(urllib.parse.urlparse(entry["path"]).path)
                        out[urllib.parse.unquote(name)] = entry["batchId"]
        return out

    def visible_at(self, batch_id: int) -> float:
        """When the sink's ``_spark_metadata`` entry for ``batch_id`` was
        written: the moment ``read_lake`` can see that batch's rows."""
        meta = os.path.join(self.lake, "_spark_metadata")
        for name in (str(batch_id), f"{batch_id}.compact"):
            path = os.path.join(meta, name)
            if os.path.exists(path):
                return os.stat(path).st_mtime
        raise RuntimeError(f"no sink log entry for batch {batch_id}")


def _backfill(spark, stream: Stream, staged: Staged, tracer=None) -> float:
    stream.place(staged.backlog)
    t0 = time.perf_counter()
    if tracer is None:
        q = stream.start(spark, available_now=True)
        q.awaitTermination()
    else:
        with tracer.span("backfill", phase="backfill"):
            with tracer.span("build", layer="driver"):
                q = stream.start(spark, available_now=True)
            with tracer.span("action", layer="exec"):
                q.awaitTermination()
    elapsed = time.perf_counter() - t0
    stream.finish(q)
    return elapsed


def _live(spark, stream: Stream, files: list, rate: float, tracer=None) -> dict:
    """Open loop: one generator thread releases the staged live files on a
    fixed clock while the speed layer runs; then drain and stop."""
    if tracer is None:
        q = stream.start(spark, available_now=False)
    else:
        with tracer.span("build", layer="driver"):
            q = stream.start(spark, available_now=False)
    due, done = {}, {}
    t_start = time.time() + 0.2

    def generate():
        for i, f in enumerate(files):
            name = f"live-{i:05d}.parquet"
            due[name] = t_start + i / rate
            time.sleep(max(0.0, due[name] - time.time()))
            stream.release(f, name)
            done[name] = time.time()

    gen = threading.Thread(target=generate, name="perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    stream.finish(q)
    batches = stream.file_batches()
    fresh = [stream.visible_at(batches[n]) - due[n] for n in due]
    late = [done[n] - due[n] for n in due]
    return {"freshness_s": fresh, "lateness_s": late, "files": len(due)}


def _view(spark, lake: str, tracer=None):
    """The batch view and a partition-pruned read; returns (seconds,
    {district: count}, pruned row count, view rows)."""
    from pyspark.sql import functions as F

    from real_estate_bigdata_spark.operators.aggregates import count_by_key
    from real_estate_bigdata_spark.sources.lake import read_lake

    def build_view():
        return count_by_key(read_lake(spark, lake), VIEW_KEY)

    def build_pruned():
        return read_lake(spark, lake).where(F.col("source") == PRUNED_SOURCE)

    t0 = time.perf_counter()
    if tracer is None:
        rows = build_view().collect()
        pruned = build_pruned().count()
    else:
        with tracer.span("view", phase="view"):
            with tracer.span("build", layer="driver"):
                view = build_view()
            with tracer.span("plan", layer="catalyst") as s:
                s.update(catalyst_phases(view))
            with tracer.span("action", layer="exec"):
                rows = view.collect()
            with tracer.span("build", layer="driver"):
                pr = build_pruned()
            with tracer.span("plan", layer="catalyst") as s:
                s.update(catalyst_phases(pr))
            with tracer.span("action", layer="exec"):
                pruned = pr.count()
    elapsed = time.perf_counter() - t0
    return elapsed, {r[0]: r[1] for r in rows}, pruned, len(rows)


def _expected_view(records) -> tuple[dict, int]:
    """The mirror's district counts and pruned row count for ``records``."""
    return (checks.district_counts(records),
            sum(1 for r in records if r and r[13] == PRUNED_SOURCE))


def _view_problems(expected, counts, pruned) -> list[str]:
    problems = []
    want, want_pruned = expected
    if counts != want:
        problems.append(f"view: {len(set(counts.items()) ^ set(want.items()))} counts differ")
    if pruned != want_pruned:
        problems.append(f"pruned read: {pruned} rows != {want_pruned}")
    return problems


def _lake_rows(spark, lake: str) -> list[tuple]:
    from real_estate_bigdata_spark.sources.lake import read_lake

    df = read_lake(spark, lake).select(*checks.LAKE_COLUMNS)
    return [tuple(r) for r in df.collect()]


def _stream_layers(progress) -> dict:
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1e3  # noqa: E731
    n = len(progress)
    rows = sum(p["numInputRows"] for p in progress)
    return {
        "stream.batches": n,
        "stream.rows_per_batch": rows / max(1, n),
        "stream.trigger_s": sum(dur(p, "triggerExecution") for p in progress),
        "stream.add_batch_s": sum(dur(p, "addBatch") for p in progress),
        "stream.latest_offset_s": sum(dur(p, "latestOffset") for p in progress),
        "stream.plan_s": sum(dur(p, "queryPlanning") for p in progress),
        "stream.log_s": sum(dur(p, "walCommit") + dur(p, "commitOffsets") for p in progress),
    }


def _lake_layers(lake: str, rows: int, batches: int) -> dict:
    files = [f for f in glob.glob(os.path.join(lake, "**", "*.parquet"), recursive=True)]
    size = sum(os.path.getsize(f) for f in files)
    return {
        "lake.files": len(files),
        "lake.files_per_batch": len(files) / max(1, batches),
        "lake.bytes_per_row": size / max(1, rows),
    }


def run_lambda(cfg: Config, session: Session) -> Outcome:
    out = Outcome()
    live_files = max(2, round(LIVE_RATE * cfg.seconds))
    setup_s, session_s, encode_s = [], [], []
    for k in range(cfg.setups):
        t0 = time.perf_counter()
        spark = session.start()
        session_s.append(time.perf_counter() - t0)
        _clean(os.path.join(cfg.run_dir, f"stage{k - 1}"))
        staged = _stage(spark, cfg, os.path.join(cfg.run_dir, f"stage{k}"), live_files)
        encode_s.append(staged.encode_s)
        # warm-up: backlog drains, a slice of the live files, and the view
        for w in range(WARM_BACKFILLS):
            warm = Stream(os.path.join(cfg.run_dir, f"warm{k}-{w}"))
            _backfill(spark, warm, staged)
        _live(spark, warm, staged.live[:cfg.warm_live_files], LIVE_RATE)
        _view(spark, warm.lake)
        setup_s.append(time.perf_counter() - t0)
        for w in range(WARM_BACKFILLS):
            _clean(os.path.join(cfg.run_dir, f"warm{k}-{w}"))

    problems = []
    warm_walls, walls, ingest, views, batches = [], [], [], [], 0
    backlog_view = _expected_view(staged.backlog_records)
    # cycles numbered below 0 are warm-up: checked, but not timed
    for c in range(-cfg.warm_cycles, cfg.cycles):
        _clean(os.path.join(cfg.run_dir, f"cycle{c - 1}"))
        stream = Stream(os.path.join(cfg.run_dir, f"cycle{c}"))
        _settle(spark)
        drain = _backfill(spark, stream, staged)
        view_s, counts, pruned, _ = _view(spark, stream.lake)
        batches += len(stream.progress)
        problems += _view_problems(backlog_view, counts, pruned)
        if c < 0:
            warm_walls.append(drain + view_s)
            continue
        walls.append(drain + view_s)
        views.append(view_s)
        rows = sum(p["numInputRows"] for p in stream.progress)
        ingest.append(rows / drain)
    backfill_batches = len(stream.progress)
    _settle(spark)
    live = _live(spark, stream, staged.live, LIVE_RATE)
    rss = session.peak_rss_mb()
    final_view_s, counts, pruned, _ = _view(spark, stream.lake)
    records = staged.backlog_records + staged.live_records
    full_view = _expected_view(records)
    problems += _view_problems(full_view, counts, pruned)
    why = checks.lake_mismatch(_lake_rows(spark, stream.lake), records)
    if why:
        problems.append(f"lake: {why}")
    batches += len(stream.progress) - backfill_batches

    fresh = live["freshness_s"]
    out.metrics = {
        "setup_s": median(setup_s),
        "wall_s": median(walls),
        "latency_p50_ms": 1e3 * median(fresh),
    }
    out.record.update(
        setup_s_samples=setup_s, wall_s_samples=walls, warm_cycle_s_samples=warm_walls,
        session_start_s_samples=session_s, freshness_s_samples=fresh,
        kafka_encode_s_samples=encode_s, ingest_rows_per_s=median(ingest),
        freshness_p50_s=median(fresh), freshness_p90_s=percentile(fresh, 0.9),
        freshness_samples=len(fresh), generator_lateness_max_s=max(live["lateness_s"]),
        view_s=median(views), view_after_live_s=final_view_s, live_files=live["files"],
        peak_rss_mb=rss,
    )
    # operations: micro-batches plus two view checks per view
    out.attempted = batches + 2 * (cfg.warm_cycles + cfg.cycles + 1)
    out.failed = len(problems)
    out.problems = problems

    if cfg.trace:
        _clean(os.path.join(cfg.run_dir, f"cycle{cfg.cycles - 1}"))
        tracer = Tracer(spark)
        traced = Stream(os.path.join(cfg.run_dir, "traced"))
        with tracer.span("pass") as root:
            _backfill(spark, traced, staged, tracer)
            with tracer.span("live", phase="live"):
                _live(spark, traced, staged.live, LIVE_RATE, tracer)
            _, counts, pruned, n_view = _view(spark, traced.lake, tracer)
        tracer.collect()
        problems = _view_problems(full_view, counts, pruned)
        out.failed += len(problems)
        out.problems += problems
        out.attempted += len(traced.progress) + 2
        committed = sum(p["numInputRows"] for p in traced.progress)
        live_span = next(s for s in tracer.spans if s["name"] == "live")
        untraced = median(walls)
        traced_wall = root["end"] - root["start"] - (live_span["end"] - live_span["start"])
        out.layers = _common_layers(tracer, root, committed + n_view, median(session_s),
                                    untraced, traced_wall)
        view_span = next(s for s in tracer.spans if s["name"] == "view")
        out.record["lambda_layers"] = {
            **_stream_layers(traced.progress),
            **_lake_layers(traced.lake, committed, len(traced.progress)),
            "view.build_s": sum(s["end"] - s["start"] for s in tracer.spans
                                if s["name"] == "build" and s["parent"] == view_span["id"]),
            "view.action_s": sum(s["end"] - s["start"] for s in tracer.spans
                                 if s["name"] == "action" and s["parent"] == view_span["id"]),
            "kafka.encode_s": median(encode_s),
        }
        out.record["trace"] = {
            "traced_wall_s": traced_wall, "untraced_wall_s": untraced,
            "spans": tracer.spans, "stream_progress": traced.progress,
        }
    return out


WORKLOADS = {"curation": run_curation, "listing_lambda": run_lambda}
