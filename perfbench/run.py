"""Benchmark of logstash_spark: two workloads behind one command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--corrupt]

Run it from the root of a checkout. It stages seeded inputs (``gen.py``),
starts the engine in a child process (``engine.py``) on ``local[nproc]``,
samples the peak memory of the child's process tree, checks every output
against the generator's own arithmetic and prints one JSON object as the
last line of stdout. The line before it is the run-validity record (nproc,
load average at start, pass times, codegen fallbacks, failed tasks).

Both workloads are closed loops of whole batch jobs ("passes") over staged
parquet pages. The first pass is the set-up (``setup_s`` runs from process
start to its end); untimed warm-up passes follow, then timed passes for
``--seconds`` and ``docs_per_s`` is the input size over the median pass.
Whole seconds-long warm passes, not short cold ones: sub-two-second passes
mostly measured per-job scheduling and JIT warm-up, and moved by several
percent between identical runs.

- ``apache_batch``: ``bench_pipeline.build_e2e`` over staged pages: grok
  (Arrow RE2 UDF), date, mutate.convert, translate, geoip, route, groupBy.
  No sinks, branches or streaming.
- ``conf_conditional``: ``conditional.conf`` compiled by ``conf.compile_file``
  and run by ``Pipeline.run``: if/else-if/else branches with json, kv, grok
  (expression and Arrow backends), mutate and useragent, into file outputs
  and a statsd counter. A grok-UDF change should barely move it; a
  useragent change should move only it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with per-layer timing from outside the package and prints the
per-layer metrics. The traced ``apache_batch`` run also streams two
micro-batches of small files through ``run_streaming`` (grok + date, two
append parquet sinks and a count sink, default trigger) for the streaming
and sink-ledger layers. A per-layer metric that a workload does not
exercise reads 0 on that workload. ``--corrupt`` alters one result row before the
check; ``ok_frac`` must then drop below 1 (the checker's self-test).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402

RUN_LIMIT_S = 170           # the whole run, staging to teardown
APACHE_DOCS, APACHE_FILES = 400_000, 16
CONF_DOCS, CONF_FILES = 4_000, 4
DRIVER_MEM = "1g"

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s", "ok_frac": "ratio", "peak_rss_mb": "MB"}
CONF_SINKS = ["file_0", "file_1", "statsd_2"]
STREAM_SINKS = ["errors", "rest", "bylang"]
STREAM_FILES, STREAM_FILE_DOCS = 40, 100  # traced apache_batch: two micro-batches
PER_LAYER = {
    "session.get_spark_s": "s", "conf.compile_s": "s", "pipeline.plan_s": "s",
    "sources.scan_s": "s", "sources.rows_in": "count", "sources.bytes_in": "bytes",
    "operators.grok_s": "s", "operators.grok.match_frac": "ratio",
    "operators.date_s": "s", "operators.mutate_s": "s", "operators.enrich_s": "s",
    "operators.enrich.geoip_hit_frac": "ratio", "operators.json_s": "s",
    "operators.kv_s": "s", "operators.useragent_s": "s", "operators.codegen_fallbacks": "count",
    "pipeline.route_agg_s": "s", "sinks.write_outputs_s": "s",
    **{f"sinks.per_sink_s.{s}": "s" for s in CONF_SINKS + STREAM_SINKS},
    **{f"sinks.rows_out.{s}": "count" for s in CONF_SINKS + STREAM_SINKS},
    "sinks.bytes_out": "bytes",
    "streaming.batches": "count", "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s_p50": "s", "streaming.wal_commit_s_p50": "s",
    "streaming.query_planning_s_p50": "s", "streaming.rows_per_batch_p50": "count",
    "spark.tasks": "count", "spark.tasks_failed": "count",
    "bench.trace_overhead_frac": "ratio",
    "scaling.eff_1_to_4": "ratio",
}
CODEGEN_FALLBACK = "Failed to compile the generated Java code"


class Failure(Exception):
    """The engine could not be run or its result could not be read."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# the engine process
# ---------------------------------------------------------------------------


def group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            pids.append(int(name))
    return pids


def tree_rss_bytes(pgid: int) -> int:
    """Resident memory of the process group, with pages shared between
    processes (the forked Python workers) split among them (PSS): summing
    plain RSS counted the shared pages once per worker."""
    total = 0
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class Engine:
    """engine.py in its own process group; samples the group's peak memory."""

    def __init__(self, root: str, work: str, spec: dict):
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        self.result_path = spec["result"]
        self.log_path = os.path.join(work, "engine.log")
        env = dict(os.environ, PYTHONPATH=root, TZ="UTC", TMPDIR=spec["tmp"],
                   SPARK_LOCAL_DIRS=spec["tmp"], PYSPARK_PYTHON=sys.executable,
                   PYSPARK_DRIVER_PYTHON=sys.executable,
                   SPARK_GRAFT_DRIVER_MEM=spec["driver_mem"],
                   SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
                   SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
        self.log = open(self.log_path, "w")
        self.t_spawn = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), spec_path],
            cwd=work, env=env, stdout=self.log, stderr=subprocess.STDOUT,
            start_new_session=True)
        self.peak_rss = 0
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        # reading smaps_rollup walks the page tables of a 1 GB pinned heap;
        # at 10 Hz the sampler took a quarter of a core from the engine
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.proc.pid))
            self._stop.wait(0.5)

    def finish(self, deadline: float) -> dict:
        """Wait for the engine, stop its whole process group, read its result."""
        try:
            self.proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        self.kill()
        self.log.close()
        with open(self.log_path, errors="replace") as f:
            log = f.read()
        if not os.path.exists(self.result_path):
            raise Failure("engine wrote no result; log tail:\n" + log[-3000:])
        with open(self.result_path) as f:
            res = json.load(f)
        res["codegen_fallbacks"] = log.count(CODEGEN_FALLBACK)
        if "error" in res:
            raise Failure("engine failed: " + res["error"] + "\nlog tail:\n" + log[-3000:])
        return res

    def kill(self) -> None:
        pgid = self.proc.pid
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not group_pids(pgid):
                break
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            end = time.time() + 5
            while group_pids(pgid) and time.time() < end:
                time.sleep(0.05)
        if self.proc.poll() is None:
            self.proc.wait()
        self._stop.set()
        self._sampler.join()


def engine_spec(ctx: dict, **kw) -> dict:
    work = ctx["work"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {"workload": ctx["workload"], "seconds": ctx["seconds"], "trace": ctx["trace"],
            "nproc": ctx["nproc"], "tmp": tmp, "result": os.path.join(work, "result.json"),
            "out_dir": os.path.join(work, "out"), "driver_mem": DRIVER_MEM,
            "warm_passes": 0, "min_passes": 1, **kw}


# ---------------------------------------------------------------------------
# apache_batch
# ---------------------------------------------------------------------------


def apache_expected(truth: gen.Truth) -> dict:
    """(sink, lang, country) -> (n, total_bytes, first_ts, last_ts)."""
    apache = truth.kind == gen.APACHE
    sink = np.where(~apache, 2, np.where(truth.resp >= gen.RESPONSES.index("500"), 0, 1))
    country = np.where(truth.geo >= 0, truth.geo % 249, -1)
    key = (sink * len(gen.LANGS) + truth.lang) * 250 + (country + 1)
    out = {}
    order = np.argsort(key, kind="stable")
    keys, starts = np.unique(key[order], return_index=True)
    ends = list(starts[1:]) + [len(order)]
    names = ["errors", "ok", "unparsed"]
    for k, a, b in zip(keys, starts, ends):
        idx = order[a:b]
        s, rest = divmod(int(k), 250)
        s, lang = divmod(s, len(gen.LANGS))
        c = rest - 1
        parsed = s != 2
        out[(names[s], gen.LANGS[lang], f"C{c}" if c >= 0 else None)] = (
            len(idx),
            int(truth.nbytes[idx].sum()) if parsed else None,
            int(truth.ts[idx].min()) if parsed else None,
            int(truth.ts[idx].max()) if parsed else None,
        )
    return out


def apache_rows_ok(rows: list[dict], expected: dict) -> bool:
    got = {(r["sink"], r["lang"], r["geoip_country"]):
           (r["n"], r["total_bytes"],
            None if r["first_ts"] is None else int(r["first_ts"]),
            None if r["last_ts"] is None else int(r["last_ts"])) for r in rows}
    return len(got) == len(rows) and got == expected


def run_apache_batch(ctx: dict) -> dict:
    table, truth = gen.make_pages(ctx["seed"], APACHE_DOCS)
    pages = os.path.join(ctx["work"], "pages")
    files = gen.write_pages(table, pages, APACHE_FILES)
    del table
    expected = apache_expected(truth)
    stream_files = []
    if ctx["trace"]:
        stream, _ = gen.make_pages(ctx["seed"], STREAM_FILES * STREAM_FILE_DOCS, first_id=APACHE_DOCS)
        stream_files = gen.write_pages(stream, os.path.join(ctx["work"], "stream"), STREAM_FILES)
    eng = Engine(ctx["root"], ctx["work"], engine_spec(
        ctx, pages=pages, scaling_pages=files[:APACHE_FILES // 4], stream_files=stream_files,
        warm_passes=2, min_passes=3))
    res = eng.finish(ctx["deadline"])
    passes = res["passes"]
    if ctx["corrupt"]:
        passes[-1]["rows"][0]["n"] += 1
    ok = [p.get("s") is not None and not p["failed_tasks"] and apache_rows_ok(p["rows"], expected)
          for p in passes]
    out = summarize(eng, res, ok, passes, len(truth))
    if ctx["trace"]:
        tr = res["trace"]
        if not apache_rows_ok(tr.pop("traced_rows"), expected):
            out["ok"].append(False)
        # every streamed row lands in exactly one of the two parquet sinks
        streamed = STREAM_FILES * STREAM_FILE_DOCS
        out["ok"].append(tr.pop("streaming.rows_in") == streamed
                         == tr["sinks.rows_out.errors"] + tr["sinks.rows_out.rest"]
                         == tr["sinks.rows_out.bylang"])
        tr["sources.bytes_in"] = dir_bytes(pages)
        out["trace"] = tr
    return out


def summarize(eng: Engine, res: dict, ok: list[bool], passes: list[dict], docs: int) -> dict:
    timed = [p["s"] for p in passes[res["warm"]:] if p.get("s") is not None] or [float("inf")]
    return {
        "ok": ok,
        "metrics": {
            "setup_s": res["t_setup"] - eng.t_spawn,
            "docs_per_s": docs / statistics.median(timed),
            "peak_rss_mb": eng.peak_rss / 2**20,
        },
        "record": {"pass_s": [p.get("s") for p in passes]},
        "codegen_fallbacks": res["codegen_fallbacks"],
        "tasks": res.get("tasks", 0), "tasks_failed": res.get("tasks_failed", 0),
    }


# ---------------------------------------------------------------------------
# conf_conditional
# ---------------------------------------------------------------------------


def conf_expected(truth: gen.Truth) -> dict:
    apache = truth.kind == gen.APACHE
    tag_of = {gen.KV: "kv", gen.JSON: "json", gen.JUNK: "junk"}
    return {
        "file_0": Counter(gen.LANGS[i] for i in truth.lang[apache]),
        "file_1": Counter(gen.LANGS[i] for i in truth.lang[~apache]),
        "tags": Counter(tag_of[int(k)] for k in truth.kind[~apache]),
        "ua": Counter(gen.AGENTS[i][1] for i in truth.agent[apache]),
        "statsd_2": {f"lang.{gen.LANGS[i]}": int(n)
                     for i, n in enumerate(np.bincount(truth.lang, minlength=len(gen.LANGS))) if n},
    }


def conf_pass_ok(rec: dict, expected: dict) -> bool:
    try:
        apache = pq.read_table(os.path.join(rec["out_dir"], "apache"), columns=["lang", "ua_name"])
        other = pq.read_table(os.path.join(rec["out_dir"], "other"), columns=["lang", "tags"])
    except (OSError, ValueError, KeyError):
        return False
    tags = Counter(t for ts in other.column("tags").to_pylist() for t in (ts or []))
    return (Counter(apache.column("lang").to_pylist()) == expected["file_0"]
            and Counter(other.column("lang").to_pylist()) == expected["file_1"]
            and tags == expected["tags"]
            and Counter(apache.column("ua_name").to_pylist()) == expected["ua"]
            and rec["results"].get("statsd_2") == expected["statsd_2"])


def corrupt_one_row(path: str) -> None:
    """Rewrite the first parquet file under ``path`` without its first row."""
    f = sorted(os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet"))[0]
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)


def run_conf_conditional(ctx: dict) -> dict:
    table, truth = gen.make_pages(ctx["seed"], CONF_DOCS)
    pages = os.path.join(ctx["work"], "pages")
    gen.write_pages(table, pages, CONF_FILES)
    expected = conf_expected(truth)
    eng = Engine(ctx["root"], ctx["work"], engine_spec(
        ctx, pages=pages, conf=os.path.join(HERE, "conditional.conf")))
    res = eng.finish(ctx["deadline"])
    passes = res["passes"]
    if ctx["corrupt"]:
        corrupt_one_row(os.path.join(passes[-1]["out_dir"], "apache"))
    ok = [p.get("s") is not None and not p["failed_tasks"] and conf_pass_ok(p, expected)
          for p in passes]
    out = summarize(eng, res, ok, passes, len(truth))
    if ctx["trace"]:
        tr = res["trace"]
        tr["sources.bytes_in"] = dir_bytes(pages)
        attempted = int(np.isin(truth.kind, [gen.APACHE, gen.KV]).sum())
        tr["operators.grok.match_frac"] = 1 - tr.pop("grok_failures") / attempted
        last = passes[-1]
        for name, sub in (("file_0", "apache"), ("file_1", "other")):
            tr[f"sinks.rows_out.{name}"] = pq.read_table(os.path.join(last["out_dir"], sub),
                                                         columns=["lang"]).num_rows
        tr["sinks.rows_out.statsd_2"] = sum(last["results"]["statsd_2"].values())
        tr["sinks.bytes_out"] = dir_bytes(last["out_dir"])
        prev = 0.0
        for name, t in tr.pop("sink_marks"):
            tr[f"sinks.per_sink_s.{name}"] = t - prev
            prev = t
        out["trace"] = tr
    return out


# ---------------------------------------------------------------------------


WORKLOADS = {"apache_batch": run_apache_batch, "conf_conditional": run_conf_conditional}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one result row before the check (self-test)")
    args = ap.parse_args(argv)
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "logstash_spark", "__init__.py")):
        print("perfbench: run from the root of a logstash_spark checkout", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = {"root": root, "work": work, "workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace, "nproc": nproc(),
           "corrupt": args.corrupt, "deadline": t_start + RUN_LIMIT_S}
    record = {"workload": args.workload, "seed": args.seed, "nproc": ctx["nproc"],
              "loadavg_1m_at_start": os.getloadavg()[0]}
    try:
        out = WORKLOADS[args.workload](ctx)
    except Failure as e:
        print(f"perfbench: {e}", file=sys.stderr)
        out = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        print(json.dumps(record))
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    attempted = len(out["ok"])
    failed = attempted - sum(out["ok"])
    record.update(out["record"])
    record.update({"codegen_fallbacks": out["codegen_fallbacks"],
                   "spark_tasks_failed": out["tasks_failed"], "wall_s": time.time() - t_start})
    if args.trace:
        tr = out["trace"]
        tr["operators.codegen_fallbacks"] = out["codegen_fallbacks"]
        tr["spark.tasks"], tr["spark.tasks_failed"] = out["tasks"], out["tasks_failed"]
        metrics = {k: {"value": float(tr.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        vals = dict(out["metrics"], ok_frac=(attempted - failed) / attempted)
        metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
