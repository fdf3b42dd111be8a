"""Benchmark runner for the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch-heavy --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run reads the engine's sf0.001
fixture tables shipped in ``perfbench/data``, starts the engine's session
(each start launches a JVM), warms it with untimed passes over the queries, then
drives the workload's queries as a closed loop with one client (the
next query is submitted when the previous one has returned its rows) for a
fixed number of passes, about ``--seconds`` of query time. Every result is
compared with the query's DuckDB oracle.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
lines before it print every metric with its unit. A full record (effective
Spark confs, per-query times, spans and self times with ``--trace 1``) goes
to ``.perfbench/results/``. The exit code is 1 when any result is wrong.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402
from workloads import DATA_DIR, WORKLOADS  # noqa: E402

# the fewest timed passes whose median is a pass of its own, not the mean
# of two; with two, stream-replay's cpu_s spread past its bound
MIN_PASSES = 3
# layers with spans; "bench" is the runner's own time between queries
SPAN_LAYERS = ("bench", "sources", "plans", "exec", "streaming")
WORK_ROOT = os.path.join(ROOT, ".perfbench")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, its Python workers and the engine write
    (spark local dirs, checkpoints, temp files) inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM started (the launcher and Spark's own): temp files in the
    # work dir, and no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


class Engine:
    """The engine's public entry points, imported once the environment is set."""

    def __init__(self):
        from kafka_streams_playground_spark import streaming
        from kafka_streams_playground_spark.plans import REGISTRY
        from kafka_streams_playground_spark.session import get_spark
        from kafka_streams_playground_spark.sources import parquet
        from kafka_streams_playground_spark.streaming import replay
        from tools.check_correctness import _norm_rows
        from tools.split_replay_audit import ORDER_COLS

        self.streaming_queries = streaming.queries
        self.registry = REGISTRY
        self.get_spark = get_spark
        self.parquet = parquet
        self.replay = replay
        self.norm_rows = _norm_rows
        self.order_cols = ORDER_COLS


def compute_oracles(engine: Engine, input_dir: str, names) -> dict[str, tuple]:
    """Each query's oracle answer on the input: (sorted column names,
    normalized rows). A DuckDB answer is computed once per (input, oracle
    SQL, DuckDB version) and cached under ``.perfbench/oracles``."""
    import duckdb

    cache_dir = os.path.join(WORK_ROOT, "oracles")
    os.makedirs(cache_dir, exist_ok=True)
    digest = hashlib.sha256(duckdb.__version__.encode())
    for t in engine.parquet.TABLES:
        with open(os.path.join(input_dir, f"{t}.parquet"), "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    con = None
    out = {}
    try:
        for name in names:
            sql = engine.registry[name].oracle
            if sql is None:
                raise SystemExit(f"{name} has no oracle; the benchmark checks every result")
            key = digest.copy()
            key.update(sql.encode())
            path = os.path.join(cache_dir, key.hexdigest() + ".pickle")
            if os.path.exists(path):
                with open(path, "rb") as f:
                    cols, rows = pickle.load(f)
            else:
                if con is None:
                    con = duckdb.connect()
                    for t in engine.parquet.TABLES:
                        table_path = os.path.join(input_dir, f"{t}.parquet")
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path}')")
                ddf = con.execute(sql).df()
                cols = list(ddf.columns)
                rows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
                with open(path + ".tmp", "wb") as f:
                    pickle.dump((cols, rows), f)
                os.replace(path + ".tmp", path)
            out[name] = (sorted(cols), engine.norm_rows(cols, rows))
        return out
    finally:
        if con is not None:
            con.close()


def start_session(engine: Engine, input_dir: str, master: str | None = None):
    """``get_spark`` plus a first small query (class loading, executor
    threads, a first codegen). After :func:`shutdown` this is a cold start:
    ``get_spark`` launches a new JVM."""
    t0 = time.perf_counter()
    spark = engine.get_spark("perfbench", master=master)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    engine.parquet.load_table(spark, input_dir, "nation").count()
    t2 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0}


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process it forked have exited."""
    from pyspark import SparkContext

    from probe import process_tree

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    tree = process_tree(jvm_pid)
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


class Runner:
    """Runs queries one at a time and checks each result."""

    def __init__(self, engine, spark, input_dir, oracles, stream_probe):
        self.engine = engine
        self.spark = spark
        self.input_dir = input_dir
        self.oracles = oracles
        self.stream_probe = stream_probe
        self.tracer = None  # a spans.Tracer during traced passes
        self.sql_probe = None  # a probe.SqlProbe in traced runs
        self.errors: list[str] = []
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def run_query(self, name: str) -> dict:
        from probe import flush_listeners, job_counts

        spark, tracer = self.spark, self.tracer
        spec = self.engine.registry[name]
        spark.catalog.clearCache()
        if self.sql_probe:
            flush_listeners(spark)
            self.sql_probe.skip()
        mark = self.stream_probe.mark()
        rec = {"query": name, "ok": False}
        group = f"perfbench-{name}-{time.time_ns()}"
        try:
            if tracer:
                tracer.query = name
                with tracer.span("bench.query"):
                    spark.sparkContext.setJobGroup(group + "-build", name)
                    t0 = time.perf_counter()
                    with tracer.span("plans.build"):
                        df = spec.fn(spark, self.input_dir)
                    t1 = time.perf_counter()
                    spark.sparkContext.setJobGroup(group + "-exec", name)
                    with tracer.span("exec.materialize"):
                        pdf = df.toPandas()
                    t2 = time.perf_counter()
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                tracer.query = None
            else:
                t0 = time.perf_counter()
                df = spec.fn(spark, self.input_dir)
                t1 = time.perf_counter()
                pdf = df.toPandas()
                t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failing query is counted, the loop goes on
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:500]}")
            return rec
        rec.update(s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
        flush_listeners(spark)
        started, batches, stream_errors = self.stream_probe.since(mark)
        for view in started:
            spark.catalog.dropTempView(view)
        rec["batches"] = batches
        rec["ok"] = self.check(name, pdf, batches, stream_errors)
        if tracer:
            rec["build"] = job_counts(spark, group + "-build")
            rec["exec"] = job_counts(spark, group + "-exec")
            rec["sql"] = self.sql_probe.collect()
        return rec

    def check(self, name, pdf, batches, stream_errors) -> bool:
        cols, want = self.oracles[name]
        rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
        problems = list(stream_errors)
        if sorted(pdf.columns) != cols:
            problems.append(f"columns {sorted(pdf.columns)} != oracle {cols}")
        elif self.engine.norm_rows(list(pdf.columns), rows) != want:
            problems.append(f"{len(rows)} rows differ from the oracle's {len(want)}")
        dropped = [b["batch_id"] for b in batches if b["state_rows_dropped_by_watermark"]]
        if dropped:
            problems.append(f"rows dropped by the watermark in batches {dropped}")
        self.errors.extend(f"{name}: {p}" for p in problems)
        return not problems

    def run_pass(self, names) -> dict:
        from probe import cpu_seconds, host_steal_seconds

        cpu0, steal0 = cpu_seconds(self.jvm_pid), host_steal_seconds()
        records = [self.run_query(n) for n in names]
        return {
            "records": records,
            "wall_s": sum(r.get("s", 0.0) for r in records),
            "cpu_s": cpu_seconds(self.jvm_pid) - cpu0,
            "steal_s": host_steal_seconds() - steal0,
        }


def timed_passes(workload, seconds: float) -> int:
    """A fixed number of timed passes, about ``seconds`` of query time on
    a 4-core machine. It depends on nothing measured, so every run of a
    workload takes the same number of samples."""
    return max(MIN_PASSES, round(seconds / workload.nominal_pass_s))


def write_feeds(engine: Engine, spark, workload, seed: int, feed_root: str) -> dict:
    """Write each streamed table with ``streaming.replay.write_split_feed``:
    the rows in the table's delivery order (``ORDER_COLS`` of
    ``tools/split_replay_audit.py``), cut at points jittered from the seed,
    one segment per micro-batch. Returns the cut points per table."""
    cuts = {}
    for name in workload.stream_tables:
        df = engine.parquet.load_table(spark, DATA_DIR, name)
        cuts[name] = stats.cut_points(df.count(), workload.segments, seed, name)
        engine.replay.write_split_feed(df, engine.order_cols[name], cuts[name], os.path.join(feed_root, name))
    return cuts


def split_reader(engine: Engine, feed_root: str):
    """``read_stream_table`` serving each table from its split-replay feed
    (the swap ``tools/split_replay_audit.py`` makes). The schema comes from
    the batch reader, as in ``read_stream_table``."""

    def read_stream_table(spark, sf_dir, name):
        schema = engine.parquet.load_table(spark, sf_dir, name).schema
        return engine.replay.read_split_stream(spark, os.path.join(feed_root, name), schema)

    return read_stream_table


def install_tracing(engine: Engine, runner: Runner, tracer) -> callable:
    """Trace ``load_table`` and ``run_to_completion`` wherever the engine
    bound them; returns the function that restores the originals."""
    from probe import flush_listeners
    from spans import replace_everywhere

    load_table = engine.parquet.load_table
    drain = engine.replay.run_to_completion
    traced_load = tracer.wrap("sources.load_table", load_table)

    def traced_drain(*args, **kwargs):
        mark = runner.stream_probe.mark()
        with tracer.span("streaming.run_to_completion") as sid:
            out = drain(*args, **kwargs)
        flush_listeners(runner.spark)
        for b in runner.stream_probe.since(mark)[1]:
            tracer.add("streaming.batch", b["start"], b["start"] + b["trigger_ms"] / 1000, sid)
        return out

    replace_everywhere(load_table, traced_load)
    replace_everywhere(drain, traced_drain)

    def restore():
        replace_everywhere(traced_load, load_table)
        replace_everywhere(traced_drain, drain)

    return restore


def end_to_end(passes, setup, peak_kib) -> tuple[dict, dict]:
    records = [r for p in passes for r in p["records"]]
    times = [r["s"] for r in records if "s" in r]
    best = stats.best_times(records)
    pct, tail_s, beyond = stats.tail(times) if times else (0.0, 0.0, 0)
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in passes]), "s"),
    }
    # Reported in the record, not gated. Wall times follow the host's other
    # guests: a busy spell that outlasts a run slows all its passes, by half
    # or more, so ten runs spread past any bound (see README.md). They are
    # built from each query's fastest sample, the one a shorter burst least
    # disturbed. There are too few samples for a tail, and the JVM's peak
    # RSS follows its heap growth more than the workload.
    detail = {
        "wall_s": sum(best.values()),
        "query_s_p50": stats.median(list(best.values())),
        "query_s_pooled_p50": stats.median(times),
        "query_s_tail": tail_s,
        "query_s_tail_percentile": pct,
        "query_s_tail_beyond": beyond,
        "query_samples": len(times),
        "peak_rss_mb": peak_kib / 1024.0,
    }
    return metrics, detail


def per_layer(passes, setup, tracer, untraced_passes) -> tuple[dict, dict]:
    """Per-pass averages of every layer counter over the traced passes."""
    n = len(passes)
    recs = [r for p in passes for r in p["records"] if "s" in r]
    batches = [b for r in recs for b in r["batches"]]

    def total(get) -> float:
        return sum(get(r) for r in recs) / n

    def sql(key):
        return total(lambda r: r["sql"].get(key, 0.0))

    spans = tracer.spans
    span_s = {}
    span_n = {}
    for s in spans:
        span_s[s.name] = span_s.get(s.name, 0.0) + (s.end - s.start) / n
        span_n[s.name] = span_n.get(s.name, 0) + 1 / n
    trigger_ms = sum(b["trigger_ms"] for b in batches) / n
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "sources.load_table_calls": (span_n.get("sources.load_table", 0.0), "count"),
        "sources.load_table_s": (span_s.get("sources.load_table", 0.0), "s"),
        "sources.scan_bytes": (sql("scan_bytes"), "B"),
        "sources.scan_files": (sql("scan_files"), "count"),
        "plans.build_s": (total(lambda r: r["build_s"]), "s"),
        "plans.build_jobs": (total(lambda r: r["build"]["jobs"]), "count"),
        "exec.s": (total(lambda r: r["exec_s"]), "s"),
        "exec.jobs": (total(lambda r: r["exec"]["jobs"]), "count"),
        "exec.stages": (total(lambda r: r["exec"]["stages"]), "count"),
        "exec.tasks": (total(lambda r: r["exec"]["tasks"]), "count"),
        "exec.sql_executions": (sql("sql_executions"), "count"),
        "exec.final_plans": (sql("final_plans"), "count"),
    }
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"exec.{key}"] = (sql(key), "B")
    for key in ("final_exchanges", "final_smj", "final_bhj"):
        m[f"exec.{key}"] = (sql(key), "count")
    from probe import OPERATOR_KINDS, STREAM_PHASES

    for kind in OPERATOR_KINDS:
        m[f"operators.{kind}.rows_out"] = (sql(f"{kind}.rows_out"), "count")
        m[f"operators.{kind}.time_ms"] = (sql(f"{kind}.time_ms"), "ms")
    m["functions.python_nodes"] = (sql("python_nodes"), "count")
    m["functions.python_rows_out"] = (sql("python_rows_out"), "count")
    m["functions.python_bytes_sent"] = (sql("python_bytes_sent"), "B")
    m["functions.python_bytes_returned"] = (sql("python_bytes_returned"), "B")
    m["functions.python_time_ms"] = (sql("python_time_ms"), "ms")

    # state size and memory at the end of each drain, its last batch
    last = {}
    for b in batches:
        last[b["query"]] = b
    drain_s = span_s.get("streaming.run_to_completion", 0.0)
    input_rows = sum(b["input_rows"] for b in batches) / n
    m["streaming.batches"] = (len(batches) / n, "count")
    m["streaming.input_rows"] = (input_rows, "count")
    m["streaming.trigger_ms"] = (trigger_ms, "ms")
    for phase in STREAM_PHASES:
        m[f"streaming.{phase}_ms"] = (sum(b[f"{phase}_ms"] for b in batches) / n, "ms")
    m["streaming.state_rows_total"] = (sum(b["state_rows_total"] for b in last.values()) / n, "count")
    m["streaming.state_memory_bytes"] = (sum(b["state_memory_bytes"] for b in last.values()) / n, "B")
    m["streaming.state_commit_ms"] = (sum(b["state_commit_ms"] for b in batches) / n, "ms")
    m["streaming.state_rows_dropped_by_watermark"] = (
        sum(b["state_rows_dropped_by_watermark"] for b in batches) / n, "count")
    m["streaming.run_to_completion_s"] = (drain_s, "s")
    m["streaming.start_stop_s"] = (drain_s - trigger_ms / 1000.0, "s")
    batch_ms = [b["trigger_ms"] for b in batches]
    pct, tail_ms, beyond = stats.tail(batch_ms) if batch_ms else (0.0, 0.0, 0)
    m["streaming.microbatch_ms_p50"] = (stats.median(batch_ms), "ms")
    m["streaming.microbatch_ms_tail"] = (tail_ms, "ms")
    m["streaming.drain_rows_per_s"] = (input_rows / drain_s if drain_s else 0.0, "1/s")

    own = stats.layer_self_times(spans)
    for layer in SPAN_LAYERS:
        m[f"self.{layer}_s"] = (own.get(layer, 0.0) / n, "s")
    # wall_s of the untraced run, over each kind of pass
    traced_wall = sum(stats.best_times(recs).values())
    untraced_wall = sum(stats.best_times(r for p in untraced_passes for r in p["records"]).values())
    m["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
    detail = {
        "microbatch_ms_tail_percentile": pct,
        "microbatch_ms_tail_beyond": beyond,
        "traced_wall_s": traced_wall,
        "untraced_wall_s": untraced_wall,
    }
    return m, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    work = os.path.join(WORK_ROOT, f"work-{os.getpid()}")
    prepare_environment(work)
    try:
        return run(args, workload, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, workload, work) -> int:
    engine = Engine()
    from probe import RssSampler, SqlProbe, StreamProbe, effective_confs
    from spans import Tracer

    phases = {}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    input_dir = DATA_DIR
    oracles = compute_oracles(engine, input_dir, workload.queries)
    phase("oracles")

    # One cold start per run (JVM launch, context, first query): it is the
    # start every user of get_spark pays, so setup_s is its time.
    spark, setup = start_session(engine, input_dir)
    confs = effective_confs(spark)
    phase("setup")
    cuts = {}
    if workload.segments:
        feed_root = os.path.join(work, "feeds")
        cuts = write_feeds(engine, spark, workload, args.seed, feed_root)
        engine.streaming_queries.read_stream_table = split_reader(engine, feed_root)
        phase("feeds")
    stream_probe = StreamProbe()
    spark.streams.addListener(stream_probe)
    runner = Runner(engine, spark, input_dir, oracles, stream_probe)
    tracer = Tracer()
    if args.trace:
        runner.sql_probe = SqlProbe(spark)

    passes, untraced, baseline = [], [], None
    with RssSampler(runner.jvm_pid) as rss:
        warm = [runner.run_pass(stats.pass_order(workload.queries, args.seed, -i)) for i in range(workload.warmup_passes)]
        phase("warmup_passes")
        for pass_no in range(1, timed_passes(workload, args.seconds) + 1):
            order = stats.pass_order(workload.queries, args.seed, pass_no)
            if args.trace and pass_no % 2 == 0:
                runner.tracer = tracer
                restore = install_tracing(engine, runner, tracer)
                with tracer.span("bench.pass"):
                    passes.append(runner.run_pass(order))
                restore()
                runner.tracer = None
            else:
                untraced.append(runner.run_pass(order))
    phase("timed_passes")
    leftover_views = [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")]
    if args.trace:
        # single-core baseline: one untraced pass on local[1]
        spark.stop()
        spark, _ = start_session(engine, input_dir, master="local[1]")
        spark.streams.addListener(stream_probe)
        runner.spark = spark
        runner.sql_probe = None
        baseline = runner.run_pass(stats.pass_order(workload.queries, args.seed, 0))
        phase("local1_baseline")
    shutdown(spark)
    phase("shutdown")

    all_passes = [*warm, *passes, *untraced] + ([baseline] if baseline else [])
    attempted = sum(len(p["records"]) for p in all_passes)
    failed = sum(not r["ok"] for p in all_passes for r in p["records"])
    if args.trace:
        metrics, detail = per_layer(passes, setup, tracer, untraced)
    else:
        metrics, detail = end_to_end(untraced, setup, rss.peak_kib)

    result = {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "queries": list(workload.queries),
        "input": os.path.relpath(input_dir, ROOT),
        "segments": workload.segments,
        "cut_points": cuts,
        "confs": confs,
        "setup": setup,
        "phases_s": phases,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "errors": runner.errors,
        "leftover_sink_views": leftover_views,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        **detail,
        "passes": [
            {
                "wall_s": p["wall_s"],
                "cpu_s": p["cpu_s"],
                "steal_s": p["steal_s"],
                "queries": {r["query"]: r.get("s") for r in p["records"]},
            }
            for p in (untraced if not args.trace else passes)
        ],
        "warmup_passes_s": [p["wall_s"] for p in warm],
    }
    if args.trace:
        result["local1_baseline"] = {
            "wall_s": baseline["wall_s"],
            "queries": {r["query"]: r.get("s") for r in baseline["records"]},
        }
        result["self_times_s"] = stats.layer_self_times(tracer.spans)
        result["spans"] = [s.__dict__ for s in tracer.spans]
    out_dir = os.path.join(WORK_ROOT, "results")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"{workload.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, default=str)

    for err in runner.errors:
        print(f"FAILED {err}")
    print(f"workload {workload.name} seed {args.seed} confs {json.dumps(confs, sort_keys=True)}")
    for k, (v, u) in metrics.items():
        print(f"  {k:45s} {v:14.6f} {u}")
    print(f"  {'failed_frac':45s} {failed / attempted:14.6f} ratio ({failed}/{attempted})")
    for k, v in detail.items():
        print(f"  {k:45s} {v:14.6f} (recorded, not gated)")
    print(f"  record: {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
