"""The two workloads, their result checks and their metrics.

``run.py`` prepares the environment and calls ``run_workload``; see its
docstring for what each workload does and what each metric means.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from decimal import Decimal
from types import SimpleNamespace

import gen
from spans import RssSampler, Tracer, descendants, plan_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()

CURATION_QUERIES = (
    "multimodal_jpeg_stats",
    "multimodal_gif_frames",
    "multimodal_wav_rms",
    "ann_ivf_multiprobe_topk",
    "semdedup_prune_report",
)

# 120 files give the freshness p90 ten samples beyond it; the rate is about
# half of what the stream drains on 4 cores (~23 files/s, 0.7 s batches)
STREAM_FILES, STREAM_ENTITIES_PER_FILE, WARMUP_FILES = 120, 50, 2
STREAM_RATE_FILES_PER_S = 12.5
STREAM_DRAIN_TIMEOUT_S = 60.0

END_TO_END = ("setup_s", "pass_s")
PER_LAYER = (
    "session.start_s", "registry.load_s",
    "operators.build_s", "operators.build_jobs", "operators.execute_s",
    "operators.fetch_s", "operators.jobs", "operators.stages", "operators.tasks",
    "operators.failed_tasks", "operators.exchanges", "operators.shuffle_bytes",
    "operators.python_crossings", "operators.python_boot_s",
    "operators.python_init_s", "operators.python_compute_s",
    "operators.python_bytes_sent", "operators.python_bytes_received",
    "sources.scan_files", "sources.scan_bytes",
    "sources.ingest_s", "sources.ingest_jobs", "sources.files_written",
    "sources.bytes_written_per_input_byte",
    "sources.merge_s", "sources.merge_partitions_rewritten",
    "streaming.batches", "streaming.batch_p50_s", "streaming.add_batch_s",
    "streaming.planning_s", "streaming.commit_s", "streaming.rows_per_batch",
    "streaming.backlog_files_end", "streaming.generator_late_p95_s",
    "streaming.freshness_p50_s", "streaming.freshness_p90_s",
    "trace.overhead_s",
) + tuple(
    f"operators.{q}.{part}_s" for q in CURATION_QUERIES
    for part in ("build", "execute", "fetch")
)


def _unit(name: str) -> str:
    special = {"peak_rss_mb": "MB", "error_ratio": "ratio", "ingest_rows_per_s": "rows/s"}
    if name in special:
        return special[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_sent") or name.endswith("bytes_received"):
        return "bytes"
    if name.endswith("per_input_byte"):
        return "ratio"
    return "count"


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(len(s) * q / 100) - 1)]


def fingerprint(rows) -> str:
    """Order-insensitive digest of a collected result."""
    h = hashlib.blake2b(digest_size=16)
    for r in sorted(repr(tuple(row)) for row in rows):
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()}"


@dataclass
class Execution:
    name: str
    window_s: float = 0.0  # build + collect: the reference's execute+fetchall
    build_s: float = 0.0
    execute_s: float = 0.0
    collect_s: float = 0.0
    build_jobs: int = 0
    counts: dict = field(default_factory=dict)
    plan: dict = field(default_factory=dict)
    rows: list | None = None
    columns: list | None = None
    error: str | None = None


class Run:
    """State of one benchmark invocation: session, tracer, failure count."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.traced = bool(args.trace)
        self.attempted = self.failed = 0
        self.spark = None
        self.tracer: Tracer | None = None

    # -- bookkeeping --------------------------------------------------------
    def attempt(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    # -- session ------------------------------------------------------------
    def start(self) -> float:
        from orionld_to_hive_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            master="local[4]",
            shuffle_partitions=4,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # keep the JVM's files (temp files, perf data) in the checkout
                "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(self.work, "tmp"),
            },
        )
        seconds = time.perf_counter() - t0
        # WARN stack traces (e.g. FileStreamSink.hasMetadata on glob paths)
        # stay out of the output; errors still reach stderr.
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, enabled=False)
        return seconds

    def stop(self) -> None:
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        children = descendants(os.getpid())
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 15
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for pid in children:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

    # -- one query execution --------------------------------------------------
    def execute(self, name: str, build) -> Execution:
        """Build, then collect; traced, also run the plan into the noop sink
        between the two and read the collect's executed-plan metrics."""
        ex = Execution(name)
        tr, spark = self.tracer, self.spark
        try:
            with tr.span("operators.build") as sb:
                df = build()
            if tr.enabled:
                with tr.span("operators.execute") as se:
                    df.write.format("noop").mode("overwrite").save()
                ex.execute_s = se.seconds
            with tr.span("operators.collect") as sc:
                rows = df.collect()
            ex.build_s, ex.collect_s = sb.seconds, sc.seconds
            ex.window_s = ex.build_s + ex.collect_s
            ex.rows, ex.columns = rows, df.columns
            if tr.enabled:
                ex.build_jobs = sb.counts.get("jobs", 0)
                ex.counts = sc.counts
                ex.plan = plan_metrics(df)
        except Exception as e:  # a raising query is a failed operation
            ex.error = f"{type(e).__name__}: {e}"[:500]
        finally:
            spark.catalog.clearCache()
        return ex


# --- result checks ----------------------------------------------------------


def phase(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr)


def fits(run: Run, done: list, start: float, seconds: float, took) -> bool:
    """Run at least two passes (four when traced: untraced and traced
    alternate), and another only if, at the mean pass time so far, it ends
    within ``seconds`` of ``start``."""
    if len(done) < (4 if run.traced else 2):
        return True
    mean = sum(took(d) for d in done) / len(done)
    return time.perf_counter() - start + mean <= seconds


def check_result(run: Run, ex: Execution, expected: str | None) -> bool:
    """Count one operation; it fails if it raised or if its result's
    fingerprint is not the one checked against the oracle."""
    if ex.error:
        return run.attempt(False, f"{ex.name}: {ex.error}")
    fp = fingerprint(ex.rows)
    return run.attempt(fp == expected, f"{ex.name}: result {fp} != checked {expected}")


def oracle_problems(ex: Execution, oracle_sql: str, sf_dir: str) -> list[str]:
    import pandas as pd
    import oracle_diff

    expected = oracle_diff.duckdb_run(oracle_sql, sf_dir)
    got = pd.DataFrame.from_records([tuple(r) for r in ex.rows], columns=ex.columns)
    return oracle_diff.compare(SimpleNamespace(toPandas=lambda: got), expected)


# --- metrics helpers --------------------------------------------------------


def layer_totals(execs: list[Execution]) -> dict:
    """Per-layer sums over one pass's traced executions."""
    out = {
        "operators.build_s": sum(e.build_s for e in execs),
        "operators.build_jobs": sum(e.build_jobs for e in execs),
        "operators.execute_s": sum(e.execute_s for e in execs),
        "operators.fetch_s": sum(e.collect_s - e.execute_s for e in execs),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"operators.{k}"] = sum(e.counts.get(k, 0) for e in execs)
    for k in ("exchanges", "shuffle_bytes", "python_crossings", "python_boot_s",
              "python_init_s", "python_compute_s", "python_bytes_sent",
              "python_bytes_received"):
        out[f"operators.{k}"] = sum(e.plan.get(k, 0) for e in execs)
    for k in ("scan_files", "scan_bytes"):
        out[f"sources.{k}"] = sum(e.plan.get(k, 0) for e in execs)
    return out


def median_of(dicts: list[dict]) -> dict:
    keys = dicts[0].keys() if dicts else ()
    return {k: median([d[k] for d in dicts]) for k in keys}


def metric_lines(values: dict, samples: dict) -> list[str]:
    return [
        f"metric {k} {v!r} {_unit(k)} n={samples.get(k, 1)}"
        for k, v in values.items()
    ]


def stamp(args, extra: dict) -> str:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or "unknown"
        except (OSError, subprocess.TimeoutExpired):
            pass
    return "stamp " + json.dumps({
        "commit": commit,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "seed": args.seed,
        "workload": args.workload,
        "traced": bool(args.trace),
        "seconds": args.seconds,
        "versions": {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "pandas": pandas.__version__, "duckdb": duckdb.__version__},
        **extra,
    })


def result(run: Run, e2e: dict, layers: dict) -> dict:
    metrics = layers if run.traced else e2e
    return {
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }


def span_lines(spans) -> list[str]:
    """Per span name: count, total and self time (total minus the time its
    child spans cover), over the traced spans."""
    child_s = [0.0] * len(spans)
    for sp in spans:
        if sp.parent is not None:
            child_s[sp.parent] += sp.seconds
    agg: dict[str, list] = {}
    for sp, kids in zip(spans, child_s):
        if sp.group is None:
            continue  # recorded with tracing off
        a = agg.setdefault(sp.name, [0, 0.0, 0.0])
        a[0] += 1
        a[1] += sp.seconds
        a[2] += sp.seconds - kids
    return [f"span {k} n={n} total_s={t!r} self_s={s!r}" for k, (n, t, s) in agg.items()]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_workload(args, work: str):
    run = Run(args, work)
    steal0, total0 = _cpu_ticks()
    try:
        with RssSampler() as rss:
            fn = {"curation_ops": curation_ops, "ingest_stream": ingest_stream}[args.workload]
            e2e, layers, samples, extra = fn(run)
        e2e["peak_rss_mb"] = rss.peak_bytes / 2**20
    finally:
        phase("stopping")
        run.stop()
        phase("stopped")
    steal1, total1 = _cpu_ticks()
    extra["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    layers = {k: layers.get(k, 0) for k in PER_LAYER}
    lines = metric_lines(e2e | {"error_ratio": run.failed / max(1, run.attempted)},
                         samples | {"error_ratio": run.attempted})
    if run.traced:
        lines += span_lines(run.tracer.spans)
        lines += [f"layer {k} {v!r} {_unit(k)}" for k, v in layers.items()]
    lines.append(stamp(args, extra))
    return lines, result(run, {k: e2e[k] for k in END_TO_END}, layers)


# --- curation_ops -----------------------------------------------------------


def curation_ops(run: Run):
    from orionld_to_hive_spark import registry

    sf = os.path.join(run.work, "tables")
    gen.write_tables(sf, run.args.seed, ("documents", "embeddings"))
    order_rng = random.Random(run.args.seed)

    session_s = run.start()
    t0 = time.perf_counter()
    queries = registry.all_queries()
    registry_s = time.perf_counter() - t0
    oracles = registry.all_oracles()

    # cold first pass; then each result is checked against its oracle once
    cold = [run.execute(name, lambda n=name: queries[n](run.spark, sf))
            for name in order_rng.sample(CURATION_QUERIES, len(CURATION_QUERIES))]
    setup_s = session_s + registry_s + sum(ex.window_s for ex in cold)
    checked: dict[str, str] = {}
    with ThreadPoolExecutor(len(cold)) as pool:  # DuckDB releases the GIL
        found = pool.map(lambda ex: ex.error or oracle_problems(ex, oracles[ex.name], sf), cold)
        for ex, probs in zip(cold, list(found)):
            if run.attempt(not probs, f"{ex.name} (cold): {probs if ex.error else probs[:3]}"):
                checked[ex.name] = fingerprint(ex.rows)
    phase("setup done")

    # measured closed loop; traced runs alternate untraced and traced passes
    passes: list[list[Execution]] = []
    traced_flags: list[bool] = []
    t_start = time.perf_counter()
    while fits(run, passes, t_start, run.args.seconds, lambda p: sum(e.window_s for e in p)):
        run.tracer.enabled = run.traced and len(passes) % 2 == 1
        traced_flags.append(run.tracer.enabled)
        execs = []
        for name in order_rng.sample(CURATION_QUERIES, len(CURATION_QUERIES)):
            ex = run.execute(name, lambda n=name: queries[n](run.spark, sf))
            check_result(run, ex, checked.get(name))
            ex.rows = None
            execs.append(ex)
        passes.append(execs)
        print(f"perfbench: pass {len(passes)}: {sum(e.window_s for e in execs):.3f}s "
              + " ".join(f"{e.name}={e.window_s:.3f}" for e in execs), file=sys.stderr)
    run.tracer.enabled = False

    plain = [p for p, t in zip(passes, traced_flags) if not t]
    pass_times = [sum(e.window_s for e in p) for p in plain]
    windows = [e.window_s for p in plain for e in p if not e.error]
    e2e = {
        "setup_s": setup_s,
        "pass_s": median(pass_times),
        "query_p50_s": median(windows),
        "query_p90_s": percentile(windows, 90),
    }
    samples = {"pass_s": len(pass_times), "query_p50_s": len(windows),
               "query_p90_s": len(windows)}

    layers = {"session.start_s": session_s, "registry.load_s": registry_s}
    traced = [p for p, t in zip(passes, traced_flags) if t]
    if traced:
        layers |= median_of([layer_totals(p) for p in traced])
        traced_times = [sum(e.window_s for e in p) for p in traced]
        # the last traced pass against the untraced one just before it: the
        # first measured pass still carries the JIT's warm-up tail
        layers["trace.overhead_s"] = traced_times[-1] - pass_times[-1]
        for q in CURATION_QUERIES:
            mine = [e for p in traced for e in p if e.name == q and not e.error]
            layers[f"operators.{q}.build_s"] = median([e.build_s for e in mine])
            layers[f"operators.{q}.execute_s"] = median([e.execute_s for e in mine])
            layers[f"operators.{q}.fetch_s"] = median([e.collect_s - e.execute_s for e in mine])
    return e2e, layers, samples, {}


# --- ingest_stream -----------------------------------------------------------


_READINGS = ["room", "entityid", "temperature", "humidity", "brightness", "ts"]
_SENSOR_COLS = ["temperature", "humidity", "brightness"]


def _read_table(path: str):
    """The readings table at ``path`` as a frame sorted by its key."""
    import pyarrow.parquet as pq

    df = pq.read_table(path).to_pandas()  # Spark's INT96 ts: naive UTC
    df["room"] = df["room"].astype(str)
    return df[_READINGS].sort_values("entityid", ignore_index=True)


def _frame_fingerprint(df) -> str:
    import pandas as pd

    h = hashlib.blake2b(pd.util.hash_pandas_object(df, index=False).values.tobytes(),
                        digest_size=16)
    return f"{len(df)}:{h.hexdigest()}"


def _hourly_expected(df) -> list[tuple]:
    """What the read-back query must return: per hour, the exact-decimal
    average of each sensor (values have two decimals, so cents sum
    exactly) and the row count."""
    hour = df["ts"].dt.hour
    out = {h: [h, None, None, None, int(n)] for h, n in hour.value_counts().items()}
    for i, c in enumerate(_SENSOR_COLS):
        v = df[c].dropna()
        cents = (v * 100).round().astype("int64").groupby(hour[v.index]).agg(["sum", "count"])
        for h, (total, n) in cents.iterrows():
            out[h][1 + i] = float(Decimal(int(total)) / 100) / int(n)
    return [tuple(out[h]) for h in sorted(out)]


def _hourly_query(spark, path: str):
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.functions.numeric import davg

    readings = spark.read.parquet(path)
    return (
        readings.groupBy(F.hour("ts").alias("hour_bucket"))
        .agg(davg("temperature", "avg_temperature"), davg("humidity", "avg_humidity"),
             davg("brightness", "avg_brightness"), F.count(F.lit(1)).alias("n"))
        .orderBy("hour_bucket")
    )


def _written_problem(written, corpus) -> str | None:
    """Every ingested row must be one valid input row, at most once, with
    its ``{room}_{timestamp}`` key, and the 0.5 sample must keep a
    binomially plausible share."""
    import numpy as np

    present = written[_SENSOR_COLS].notna()
    if (present.sum(axis=1) != 1).any():
        return "a row does not carry exactly one reading"
    got = written[["room"]].assign(
        epoch=written["ts"].astype("int64") // 10**9,
        sensor=np.select([present[c] for c in _SENSOR_COLS[:2]], _SENSOR_COLS[:2], _SENSOR_COLS[2]),
        value=written[_SENSOR_COLS].sum(axis=1),
    )
    if got.duplicated(["room", "epoch"]).any():
        return "an input row was ingested twice"
    joined = got.merge(corpus, on=["room", "epoch"], how="left", suffixes=("", "_in"))
    bad = (joined["sensor"] != joined["sensor_in"]) | (joined["value"] != joined["value_in"])
    if bad.any():
        return f"row {joined[bad].iloc[0].to_dict()} is not a valid input row"
    key = written["room"] + "_" + written["ts"].dt.strftime("%Y-%m-%d %H:%M:%S")
    if (key != written["entityid"]).any():
        return "an entityid does not match its room and timestamp"
    n = len(corpus)
    if abs(len(written) - n / 2) > 6 * (n * 0.25) ** 0.5:
        return f"sample kept {len(written)} of {n} rows"
    return None


def _parquet_files(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


class IngestCycle:
    """Batch ingest -> merge of the corrections -> read-back query, each
    checked against what the generator wrote."""

    def __init__(self, run: Run, corpus: gen.SensorCorpus):
        import pandas as pd

        self.run, self.corpus = run, corpus
        self.table = os.path.join(run.work, "readings")
        self.valid = pd.DataFrame(
            [(room, sensor, e, float(v)) for room, sensor, e, v in corpus.rows],
            columns=["room", "sensor", "epoch", "value"],
        )
        self.updates = None
        self.expected_merged: str | None = None
        self.expected_hourly: list[tuple] | None = None

    def once(self) -> dict:
        from orionld_to_hive_spark.sources import batch_csv, merge

        run, tr = self.run, self.run.tracer
        out = {}
        try:
            with tr.span("sources.ingest") as s:
                batch_csv.ingest_measurements(run.spark, self.corpus.glob, self.table, 0.5, 42)
            out["ingest_s"], out["ingest_jobs"] = s.seconds, s.counts.get("jobs", 0)
            out["files_written"], size = _parquet_files(self.table)
            out["bytes_ratio"] = size / self.corpus.raw_bytes
            if self.updates is None:  # first ingest: derive the merge's expectations
                written = _read_table(self.table)
                problem = _written_problem(written, self.valid)
                if run.attempt(problem is None, f"ingest: {problem}"):
                    self._plan_merge(written)
            else:
                run.attempt(True, "ingest")  # its output is checked after the merge
        except Exception as e:
            run.attempt(False, f"ingest raised {e!r}"[:500])
            return out
        if self.updates is None:
            return out
        try:
            with tr.span("sources.merge") as s:
                out["partitions"] = merge.merge_upsert(
                    self.table, self.updates, ("entityid",), "ts", ("room",)
                )
            out["merge_s"] = s.seconds
            got = _frame_fingerprint(_read_table(self.table))
            run.attempt(got == self.expected_merged,
                        f"ingest + merge: table {got} != expected {self.expected_merged}")
        except Exception as e:
            run.attempt(False, f"merge raised {e!r}"[:500])
            return out
        ex = run.execute("read_after_write", lambda: _hourly_query(run.spark, self.table))
        out["read"] = ex
        if ex.error:
            run.attempt(False, f"read-back raised {ex.error}")
        else:
            run.attempt([tuple(r) for r in ex.rows] == self.expected_hourly,
                        "read-back: hourly averages differ from the generator's")
        ex.rows = None
        return out

    def _plan_merge(self, written) -> None:
        import numpy as np

        from orionld_to_hive_spark.schemas import READINGS_SCHEMA

        fixes = gen.corrections(np.random.default_rng([self.run.args.seed, 3]), written)
        merged = written.set_index("entityid")
        merged.loc[fixes["entityid"], _SENSOR_COLS] = fixes.set_index("entityid")[_SENSOR_COLS]
        merged = merged.reset_index()[_READINGS]
        self.expected_merged = _frame_fingerprint(merged)
        self.expected_hourly = _hourly_expected(merged)
        rows = fixes.astype(object).where(fixes.notna(), None)
        self.updates = self.run.spark.createDataFrame(
            [(r.room, r.entityid, r.temperature,
              None if r.humidity is None else int(r.humidity), r.brightness,
              r.ts.to_pydatetime()) for r in rows.itertuples()],
            READINGS_SCHEMA,
        )


def replay_stream(run: Run, notes: gen.Notifications, rate: float, name: str) -> dict:
    """Drop ``notes`` into the watched directory open loop at ``rate`` files
    per second while the streaming ingest runs; return per-file freshness
    and the stream's own progress counters."""
    from orionld_to_hive_spark.streaming import ingest

    base = os.path.join(run.work, name)
    in_dir, staging = os.path.join(base, "in"), os.path.join(base, "staging")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "checkpoint")
    for d in (in_dir, staging):
        os.makedirs(d)
    query = ingest.start_ingest(run.spark, in_dir, out, ckpt, available_now=False)
    try:
        t_wait = time.monotonic()
        while (query.status["message"] != "Waiting for data to arrive"
               and time.monotonic() - t_wait < 30):
            time.sleep(0.02)  # the source is listening once it waits for data
        t0 = time.time() + 0.2
        due = [t0 + i / rate for i in range(notes.n_files)]
        late = []
        for i, at in enumerate(due):  # this thread is the open-loop generator
            pause = at - time.time()
            if pause > 0:
                time.sleep(pause)
            notes.drop(i, staging, in_dir)
            late.append(max(0.0, time.time() - at))
        end_due = due[-1]
        deadline = time.monotonic() + STREAM_DRAIN_TIMEOUT_S
        while time.monotonic() < deadline:
            if len(_batch_of_file(ckpt)) >= notes.n_files and _all_committed(ckpt):
                break
            time.sleep(0.05)
        progress = list(query.recentProgress)
    finally:
        query.stop()
    batch_of = _batch_of_file(ckpt)
    commit_t = _commit_times(ckpt)
    fresh: dict[int, float] = {}
    for i in range(notes.n_files):
        b = batch_of.get(notes.name(i))
        if b is not None and b in commit_t:
            fresh[i] = commit_t[b] - due[i]
    backlog = sum(1 for i in range(notes.n_files) if i not in fresh or due[i] + fresh[i] > end_due)
    busy = [p for p in progress if p.numInputRows > 0]
    return {
        "out": out, "fresh": fresh, "late": late, "backlog": backlog,
        "batches": len(busy),
        "batch_s": [p.durationMs.get("triggerExecution", 0) / 1e3 for p in busy],
        "add_batch_s": [p.durationMs.get("addBatch", 0) / 1e3 for p in busy],
        "planning_s": [p.durationMs.get("queryPlanning", 0) / 1e3 for p in busy],
        "commit_s": [(p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)) / 1e3
                     for p in busy],
        "rows": [p.numInputRows for p in busy],
        "files_in_log": batch_of,
    }


def _batch_of_file(ckpt: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    dup: set[str] = set()
    if not os.path.isdir(d):
        return out
    for f in os.listdir(d):
        if f.startswith(".") or f.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(d, f)) as fh:
                lines = fh.read().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            if not line.strip():
                continue
            entry = json.loads(line)
            name = os.path.basename(entry["path"])
            if name in out and out[name] != entry["batchId"]:
                dup.add(name)
            out[name] = entry["batchId"]
    for name in dup:
        out[name] = -1  # listed by two batches: not exactly once
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    out = {}
    if os.path.isdir(d):
        for f in os.listdir(d):
            if f.isdigit():
                out[int(f)] = os.stat(os.path.join(d, f)).st_mtime
    return out


def _all_committed(ckpt: str) -> bool:
    batches = set(_batch_of_file(ckpt).values())
    return batches <= set(_commit_times(ckpt))


def check_stream(run: Run, notes: gen.Notifications, replay: dict) -> list[float]:
    """One operation per notification file: it fails unless its entities
    landed exactly once with the values written. Returns the freshness of
    the files that landed."""
    import pyarrow.parquet as pq

    landed: dict[str, list[tuple]] = {}
    if os.path.isdir(replay["out"]):
        for r in pq.read_table(replay["out"]).to_pylist():
            landed.setdefault(r["entityid"], []).append(
                (r["entityid"], str(r["room"]), r["temperature"], r["humidity"], r["brightness"])
            )
    per_file: dict[int, list[tuple]] = {}
    for e in notes.expected:
        per_file.setdefault(gen.Notifications.file_of(e[0]), []).append(e)
    fresh = []
    for i in range(notes.n_files):
        ok = (replay["files_in_log"].get(notes.name(i), -1) >= 0
              and i in replay["fresh"]
              and all(landed.get(e[0]) == [e] for e in per_file[i]))
        if run.attempt(ok, f"notification file {notes.name(i)} did not land exactly once"):
            fresh.append(replay["fresh"][i])
    stray = set(landed) - {e[0] for e in notes.expected}
    if stray:
        run.attempt(False, f"{len(stray)} streamed rows that no file holds")
    return fresh


def full(c: dict) -> bool:
    return "read" in c and not c["read"].error


def _cycle_s(c: dict) -> float:
    return c.get("ingest_s", 0) + c.get("merge_s", 0) + (c["read"].window_s if "read" in c else 0)


def ingest_stream(run: Run):
    from orionld_to_hive_spark import registry

    seed = run.args.seed
    corpus = gen.write_sensor_corpus(os.path.join(run.work, "corpus"), seed)
    warm = gen.Notifications(seed, WARMUP_FILES, STREAM_ENTITIES_PER_FILE, "warm")
    notes = gen.Notifications(seed, STREAM_FILES, STREAM_ENTITIES_PER_FILE, "note")
    rate = STREAM_RATE_FILES_PER_S

    phase("inputs written")
    session_s = run.start()
    t0 = time.perf_counter()
    registry.all_queries()
    registry_s = time.perf_counter() - t0
    phase("session started")

    cycle = IngestCycle(run, corpus)
    cold = cycle.once()
    phase("cold cycle done")
    t0 = time.perf_counter()
    warm_replay = replay_stream(run, warm, rate, "warmup")
    warm_s = time.perf_counter() - t0
    check_stream(run, warm, warm_replay)
    phase("warm-up stream done")
    setup_s = session_s + registry_s + _cycle_s(cold) + warm_s

    # measured phase: closed-loop cycles, then the open-loop stream replay
    cycles, traced_flags = [], []
    t_measure = time.perf_counter()
    while fits(run, cycles, t_measure, run.args.seconds - STREAM_FILES / rate, _cycle_s):
        run.tracer.enabled = run.traced and len(cycles) % 2 == 1
        traced_flags.append(run.tracer.enabled)
        cycles.append(cycle.once())
        c = cycles[-1]
        phase(f"cycle {len(cycles)} done: ingest {c.get('ingest_s', 0):.3f}s "
              f"merge {c.get('merge_s', 0):.3f}s read {_cycle_s(c) - c.get('ingest_s', 0) - c.get('merge_s', 0):.3f}s")
    run.tracer.enabled = False
    try:
        replay = replay_stream(run, notes, rate, "stream")
    except Exception as e:
        run.attempt(False, f"stream replay raised {e!r}"[:500])
        replay = {"fresh": {}, "late": [0.0], "backlog": notes.n_files, "batches": 0,
                  "batch_s": [], "add_batch_s": [], "planning_s": [], "commit_s": [],
                  "rows": [], "files_in_log": {}, "out": ""}
    fresh = check_stream(run, notes, replay)
    print(f"perfbench: stream batches={replay['batches']} batch_p50={median(replay['batch_s']):.3f}s "
          f"fresh_p50={median(fresh):.3f}s backlog={replay['backlog']}", file=sys.stderr)

    plain = [c for c, t in zip(cycles, traced_flags) if not t and full(c)]
    pass_times = [_cycle_s(c) for c in plain]
    ingest_s = median([c["ingest_s"] for c in plain])
    e2e = {
        "setup_s": setup_s,
        "pass_s": median(pass_times),
        "ingest_rows_per_s": corpus.raw_rows / ingest_s if ingest_s else 0.0,
        "upsert_s": median([c["merge_s"] for c in plain]),
        "read_after_write_s": median([c["read"].window_s for c in plain]),
        "freshness_p50_s": median(fresh),
        "freshness_p90_s": percentile(fresh, 90),
    }
    n = len(plain)
    samples = {"pass_s": n, "ingest_rows_per_s": n,
               "upsert_s": n, "read_after_write_s": n, "freshness_p50_s": len(fresh),
               "freshness_p90_s": len(fresh)}

    layers = {
        "session.start_s": session_s,
        "registry.load_s": registry_s,
        "streaming.batches": replay["batches"],
        "streaming.batch_p50_s": median(replay["batch_s"]),
        "streaming.add_batch_s": median(replay["add_batch_s"]),
        "streaming.planning_s": median(replay["planning_s"]),
        "streaming.commit_s": median(replay["commit_s"]),
        "streaming.rows_per_batch": median(replay["rows"]),
        "streaming.backlog_files_end": replay["backlog"],
        "streaming.generator_late_p95_s": percentile(replay["late"], 95),
        "streaming.freshness_p50_s": median(fresh),
        "streaming.freshness_p90_s": percentile(fresh, 90),
    }
    traced = [c for c, t in zip(cycles, traced_flags) if t and full(c)]
    if traced:
        layers |= median_of([layer_totals([c["read"]]) for c in traced])
        layers["sources.ingest_s"] = median([c["ingest_s"] for c in traced])
        layers["sources.ingest_jobs"] = median([c["ingest_jobs"] for c in traced])
        layers["sources.files_written"] = median([c["files_written"] for c in traced])
        layers["sources.bytes_written_per_input_byte"] = median([c["bytes_ratio"] for c in traced])
        layers["sources.merge_s"] = median([c["merge_s"] for c in traced])
        layers["sources.merge_partitions_rewritten"] = median([c["partitions"] for c in traced])
        traced_times = [_cycle_s(c) for c in traced]
        # the last traced pass against the untraced one just before it: the
        # first measured pass still carries the JIT's warm-up tail
        layers["trace.overhead_s"] = traced_times[-1] - pass_times[-1]
    extra = {"stream_rate_files_per_s": rate,
             "stream_files": STREAM_FILES,
             "generator_late_p95_s": percentile(replay["late"], 95)}
    return e2e, layers, samples, extra
