"""Engine side of the benchmark: runs one workload in a process of its own.

``run.py`` stages the inputs, starts this script with a spec file, samples
the memory of its process tree and checks what it wrote. This script only
calls public functions of ``logstash_spark``; it patches nothing inside the
package. It writes one JSON result file and exits.

Usage: python3 perfbench/engine.py SPEC.json
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def get_session(spec: dict, cores: int):
    from logstash_spark.session import get_spark

    return get_spark("perfbench", cores=cores, extra_confs={
        "spark.local.dir": spec["tmp"],
        # a pinned, pre-touched driver heap: without it the JVM's RSS follows
        # GC timing and peak_rss_mb swung by half between identical runs
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={spec['tmp']} -XX:-UsePerfData "
                                          f"-Xms{spec['driver_mem']} -XX:+AlwaysPreTouch"),
    })


def stage_tasks(sc) -> tuple[int, int]:
    """(tasks, failed tasks) over every stage the status tracker retains."""
    st = sc.statusTracker()
    total = failed = 0
    misses = 0
    sid = 0
    while misses < 200:
        info = st.getStageInfo(sid)
        sid += 1
        if info is None:
            misses += 1
            continue
        misses = 0
        total += info.numTasks
        failed += info.numFailedTasks
    return total, failed


def group_failed_tasks(sc, group: str) -> int:
    st = sc.statusTracker()
    failed = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        if job is None:
            continue
        if job.status == "FAILED":
            failed += 1
        for sid in job.stageIds:
            info = st.getStageInfo(sid)
            if info is not None:
                failed += info.numFailedTasks
    return failed


def timed(fn):
    t0 = time.perf_counter()
    r = fn()
    return r, time.perf_counter() - t0


def force(df) -> float:
    """Execute every column of ``df`` without collecting it; seconds."""
    _, dt = timed(lambda: df.write.format("noop").mode("overwrite").save())
    return dt


def prefix_times(builders: list, reps: int = 1) -> list[float]:
    """Best-of-``reps`` time of each cumulative plan prefix on a warm engine.
    Spark is lazy, so a layer's self time is the difference between
    consecutive prefixes."""
    return [min(force(b()) for _ in range(reps)) for b in builders]


def run_passes(sc, spec: dict, one, out: dict) -> None:
    """The set-up pass and ``warm_passes`` more untimed passes, then timed
    passes for ``spec['seconds']`` (at least ``min_passes``). A traced run
    times two passes only."""
    def attempt(i: int) -> dict:
        group = f"pass{i}"
        sc.setJobGroup(group, "perfbench pass")
        try:
            rec, dt = timed(one)
            rec["s"] = dt
        except Exception as e:  # a failed pass is counted, not fatal
            rec = {"s": None, "error": repr(e)[:500]}
        rec["failed_tasks"] = group_failed_tasks(sc, group)
        return rec

    out["passes"] = [attempt(0)]
    out["t_setup"] = time.time()
    for _ in range(spec["warm_passes"]):
        out["passes"].append(attempt(len(out["passes"])))
    out["warm"] = len(out["passes"])
    seconds, min_passes = (0, 2) if spec["trace"] else (spec["seconds"], spec["min_passes"])
    end = time.perf_counter() + seconds
    timed_passes = 0
    while time.perf_counter() < end or timed_passes < min_passes:
        out["passes"].append(attempt(len(out["passes"])))
        timed_passes += 1
    sc.setJobGroup("perfbench-trace", "perfbench trace")


# ---------------------------------------------------------------------------
# apache_batch: bench_pipeline.build_e2e over the staged pages
# ---------------------------------------------------------------------------


def _agg_rows(rows) -> list[dict]:
    out = []
    for r in rows:
        d = r.asDict()
        for k in ("first_ts", "last_ts"):
            d[k] = d[k].timestamp() if d[k] is not None else None
        out.append(d)
    return out


def apache_chain(spark, pages, obs: dict | None = None) -> list:
    """build_e2e's steps as cumulative prefix builders (scan, +grok, +date,
    +mutate, +enrich, +route/agg). With ``obs`` the grok and enrich steps
    carry counters."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from logstash_spark.bench_pipeline import APACHE_PATTERN, geo_dim, resp_class_dim
    from logstash_spark.operators import mutate as M
    from logstash_spark.operators.date import date
    from logstash_spark.operators.enrich import geoip, translate
    from logstash_spark.operators.grok import grok

    def scan():
        df = spark.read.parquet(pages)
        return obs["pm"].observe(df, "scan") if obs else df

    def g():
        df = grok(scan(), "text", APACHE_PATTERN, backend="arrow")
        return obs["pm"].observe(df, "grok", failure_tags=["_grokparsefailure"]) if obs else df

    def d():
        return date(g(), "timestamp", ["dd/MMM/yyyy:HH:mm:ss Z"])

    def m():
        return M.convert(d(), {"bytes": "integer"})

    def e():
        df = translate(m(), resp_class_dim(spark), source="response",
                       target="resp_class", fallback="unknown")
        df = geoip(df, geo_dim(spark), source="clientip", fields=["country"])
        if obs:
            o = Observation("geoip")
            obs["geoip"] = o
            df = df.observe(o, F.sum(F.col("_grok_matched").cast("long")).alias("parsed"),
                            F.count("geoip_country").alias("hits"))
        return df

    def agg():
        route = (F.when(F.col("response").rlike("^5"), "errors")
                 .when(F.col("_grok_matched") == False, "unparsed")  # noqa: E712
                 .otherwise("ok"))
        return (e().withColumn("sink", route).groupBy("sink", "lang", "geoip_country")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("bytes").alias("total_bytes"),
                     F.min("@timestamp").alias("first_ts"), F.max("@timestamp").alias("last_ts")))

    return [scan, g, d, m, e, agg]


def apache_batch(spark, spec: dict, out: dict) -> None:
    from logstash_spark.bench_pipeline import build_e2e

    sc = spark.sparkContext
    pages = spec["pages"]

    def one() -> dict:
        df = build_e2e(spark, 0, input_df=spark.read.parquet(pages))
        return {"rows": _agg_rows(df.collect())}

    run_passes(sc, spec, one, out)
    if not spec["trace"]:
        out["tasks"], out["tasks_failed"] = stage_tasks(sc)
        return
    tr = out["trace"]
    _, tr["pipeline.plan_s"] = timed(
        lambda: build_e2e(spark, 0, input_df=spark.read.parquet(pages)).schema)
    times = prefix_times(apache_chain(spark, pages)[:-1], reps=2)
    tr["sources.scan_s"] = times[0]
    for k, t in zip(["operators.grok_s", "operators.date_s", "operators.mutate_s",
                     "operators.enrich_s"], [b - a for a, b in zip(times, times[1:])]):
        tr[k] = t
    full = min(p["s"] for p in out["passes"][out["warm"]:] if p["s"] is not None)
    tr["pipeline.route_agg_s"] = full - times[-1]
    from logstash_spark.metrics import PipelineMetrics

    obs = {"pm": PipelineMetrics()}
    rows, traced = timed(lambda: apache_chain(spark, pages, obs)[-1]().collect())
    tr["bench.trace_overhead_frac"] = traced / full - 1
    st = obs["pm"].report()["stages"]
    tr["sources.rows_in"] = st["scan"]["rows"]
    tr["operators.grok.match_frac"] = 1 - st["grok"]["_grokparsefailure"] / st["grok"]["rows"]
    geo = obs["geoip"].get
    tr["operators.enrich.geoip_hit_frac"] = geo["hits"] / geo["parsed"]
    tr["traced_rows"] = _agg_rows(rows)
    out["tasks"], out["tasks_failed"] = stage_tasks(sc)
    stream_layers(spark, spec, tr)

    # N -> 1 core scaling on a quarter of the files (still one file per core)
    part = spec["scaling_pages"]
    full_part = statistics.median(
        timed(lambda: build_e2e(spark, 0, input_df=spark.read.parquet(*part)).collect())[1]
        for _ in range(3))
    spark.stop()
    spark1 = get_session(spec, 1)
    build_e2e(spark1, 0, input_df=spark1.read.parquet(*part)).collect()
    _, one_core = timed(lambda: build_e2e(spark1, 0, input_df=spark1.read.parquet(*part)).collect())
    tr["scaling.eff_1_to_4"] = one_core / (spec["nproc"] * full_part)
    spark1.stop()


STREAM_SINKS = ("errors", "rest", "bylang")


def stream_layers(spark, spec: dict, tr: dict) -> None:
    """The streaming layer, traced only: grok + date through run_streaming
    with the library's default trigger into two append parquet sinks and a
    count sink, over two micro-batches of small files. Per-sink times are
    the gaps between the sinks' commit-ledger markers."""
    from logstash_spark.conditions import Field, Rx
    from logstash_spark.pipeline import Output, Pipeline, Stage
    from logstash_spark.sinks import CountSink, ParquetSink
    from logstash_spark.streaming.pipeline import progress_stats, run_streaming

    base = os.path.join(spec["tmp"], "stream")
    watch, ckpt = os.path.join(base, "watch"), os.path.join(base, "ckpt")
    os.makedirs(watch)
    counted = []

    class RecordingCountSink(CountSink):
        def write(self, df):
            r = super().write(df)
            counted.append(sum(r.values()))
            return r

    pipe = Pipeline(
        filters=[
            Stage(op="grok", params={"source": "text", "patterns": "%{COMBINEDAPACHELOG}"}),
            Stage(op="date", params={"source": "timestamp", "formats": ["dd/MMM/yyyy:HH:mm:ss Z"]}),
        ],
        outputs=[
            Output("errors", ParquetSink(os.path.join(base, "errors"), mode="append"),
                   when=Rx(Field("[response]"), "^5")),
            Output("rest", ParquetSink(os.path.join(base, "rest"), mode="append"),
                   when=Rx(Field("[response]"), "^5", negate=True)),
            Output("bylang", RecordingCountSink(key="lang")),
        ],
    )
    files = spec["stream_files"]
    half = len(files) // 2

    def drop(batch: list) -> None:
        for f in batch:
            os.rename(f, os.path.join(watch, os.path.basename(f)))

    def wait_marker(batch_id: int) -> None:
        marker = os.path.join(ckpt, "sink-commits", "bylang", str(batch_id))
        end = time.time() + 60
        while not os.path.exists(marker):
            if q.exception() is not None or time.time() > end:
                raise RuntimeError(f"micro-batch {batch_id} never committed: {q.exception()}")
            time.sleep(0.02)

    drop(files[:half])
    schema = spark.read.parquet(os.path.join(watch, os.path.basename(files[0]))).schema
    q = run_streaming(pipe, spark.readStream.schema(schema).parquet(watch), checkpoint=ckpt)
    wait_marker(0)
    drop(files[half:])
    wait_marker(1)
    end = time.time() + 10
    while time.time() < end and not any(p["batchId"] >= 1 for p in q.recentProgress):
        time.sleep(0.05)
    q.stop()
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]

    def p50(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) / 1000 for p in prog)

    tr["streaming.batches"] = len(prog)
    tr["streaming.trigger_s_p50"] = p50("triggerExecution")
    tr["streaming.add_batch_s_p50"] = p50("addBatch")
    tr["streaming.wal_commit_s_p50"] = p50("walCommit")
    tr["streaming.query_planning_s_p50"] = p50("queryPlanning")
    tr["streaming.rows_per_batch_p50"] = statistics.median(p["numInputRows"] for p in prog)
    tr["streaming.rows_in"] = progress_stats(q)["total_input_rows"]
    # a sink's time runs from the previous sink's marker; the first sink's
    # from the batch's offset-log entry plus its planning, and so includes
    # the scan, grok and date that its write forces
    gaps = {s: [] for s in STREAM_SINKS}
    for p in prog:
        b = p["batchId"]
        prev = (os.stat(os.path.join(ckpt, "offsets", str(b))).st_mtime
                + p["durationMs"].get("queryPlanning", 0) / 1000)
        for s in STREAM_SINKS:
            t = os.stat(os.path.join(ckpt, "sink-commits", s, str(b))).st_mtime
            gaps[s].append(t - prev)
            prev = t
    for s in STREAM_SINKS:
        tr[f"sinks.per_sink_s.{s}"] = statistics.median(gaps[s])
    for s in ("errors", "rest"):
        tr[f"sinks.rows_out.{s}"] = spark.read.parquet(os.path.join(base, s)).count()
        tr["sinks.bytes_out"] = tr.get("sinks.bytes_out", 0) + sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(os.path.join(base, s))
            for f in fs)
    tr["sinks.rows_out.bylang"] = sum(counted)


# ---------------------------------------------------------------------------
# conf_conditional: conditional.conf via conf.compile_file + Pipeline.run
# ---------------------------------------------------------------------------


LAYER_OF_OP = {"grok": "operators.grok_s", "json": "operators.json_s", "kv": "operators.kv_s",
               "useragent": "operators.useragent_s"}


def conf_conditional(spark, spec: dict, out: dict) -> None:
    from logstash_spark.conf import compile_file

    sc = spark.sparkContext
    pages = spec["pages"]
    n = [0]

    def one() -> dict:
        d = os.path.join(spec["out_dir"], f"pass{n[0]}")
        n[0] += 1
        pipe, _ = compile_file(spec["conf"], out_dir=d)
        res = pipe.run(spark.read.parquet(pages))
        return {"out_dir": d, "results": {k: v for k, v in res.items() if isinstance(v, dict)}}

    run_passes(sc, spec, one, out)
    if not spec["trace"]:
        out["tasks"], out["tasks_failed"] = stage_tasks(sc)
        return
    tr = out["trace"]
    tr["conf.compile_s"] = statistics.median(
        timed(lambda: compile_file(spec["conf"], out_dir=spec["out_dir"]))[1] for _ in range(5))
    pipe, _ = compile_file(spec["conf"], out_dir=os.path.join(spec["out_dir"], "trace"))
    _, tr["pipeline.plan_s"] = timed(lambda: pipe.transform(spark.read.parquet(pages)).schema)

    # cut the stage list after every stage that runs a named operator; the
    # branch plumbing before it is charged to it
    from logstash_spark.pipeline import Pipeline

    cuts = [i + 1 for i, st in enumerate(pipe.filters)
            if st.op in LAYER_OF_OP or st.op.startswith("mutate")]
    if cuts[-1] != len(pipe.filters):
        cuts.append(len(pipe.filters))
    builders = [lambda: spark.read.parquet(pages)] + [
        (lambda k=k: Pipeline(filters=pipe.filters[:k]).transform(spark.read.parquet(pages)))
        for k in cuts]
    times = prefix_times(builders)
    tr["sources.scan_s"] = times[0]
    layer = {v: 0.0 for v in LAYER_OF_OP.values()}
    layer["operators.mutate_s"] = 0.0
    for k, a, b in zip(cuts, times, times[1:]):
        op = pipe.filters[k - 1].op
        name = LAYER_OF_OP.get(op, "operators.mutate_s" if op.startswith("mutate") else None)
        if name:
            layer[name] += b - a
    tr.update(layer)

    from logstash_spark.metrics import PipelineMetrics
    from logstash_spark.sinks import write_outputs

    pm = PipelineMetrics()
    marks: list[tuple[str, float]] = []

    def traced_pass():
        df = pm.observe(spark.read.parquet(pages), "scan")
        df = pm.observe(pipe.transform(df), "filters",
                        failure_tags=["_grokparsefailure", "_jsonparsefailure"])
        marks.append(("start", time.perf_counter()))
        write_outputs(df, pipe.outputs,
                      on_sink_done=lambda name: marks.append((name, time.perf_counter())))

    full = min(p["s"] for p in out["passes"][out["warm"]:] if p["s"] is not None)
    _, traced = timed(traced_pass)
    tr["bench.trace_overhead_frac"] = traced / full - 1
    tr["sinks.write_outputs_s"] = marks[-1][1] - marks[0][1]
    tr["sink_marks"] = [(name, t - marks[0][1]) for name, t in marks[1:]]
    st = pm.report()["stages"]
    tr["sources.rows_in"] = st["scan"]["rows"]
    tr["grok_failures"] = st["filters"]["_grokparsefailure"]
    out["tasks"], out["tasks_failed"] = stage_tasks(sc)


WORKLOADS = {"apache_batch": apache_batch, "conf_conditional": conf_conditional}


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    out: dict = {"trace": {}}
    spark, dt = timed(lambda: get_session(spec, spec["nproc"]))
    out["trace"]["session.get_spark_s"] = dt
    try:
        WORKLOADS[spec["workload"]](spark, spec, out)
    except Exception as e:
        out["error"] = repr(e)[:2000]
    with open(spec["result"], "w") as f:
        json.dump(out, f)
    # run.py stops the JVM and the Python workers with the process group
    sys.stdout.flush()
    os._exit(1 if "error" in out else 0)


if __name__ == "__main__":
    main()
