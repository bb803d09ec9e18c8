#!/usr/bin/env python3
"""Product-path benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine together
with the benchmark harness (`perfbench/build.sbt`, outputs under
`.bench_build/`); later runs reuse the build while the sources are unchanged.
One JVM then runs the workload on `local[4]` with 4 shuffle partitions:

  service_mix  stream ingest (open loop, 2,000 rows/s) beside two closed-loop
               HTTP batch clients (submit, poll, five 100-row pages)
  suite_churn  a subset of the query library over a seeded
               corpus, count() per query, pass after pass; then one writer
               looping mergeByKey beside one reader looping committed reads

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics from spans around every call into
an engine layer plus Spark listener counts (spans and jobs are kept under
.bench_build/traces/). Lines before it summarise every measurement with its
unit and sample count. perfbench/METRICS.md maps each metric to its layer,
workload and definition.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import stats  # noqa: E402
from stats import median, percentile  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
WORKLOADS = ("service_mix", "suite_churn")
CORES = 4
SETUP_REPS = 3           # set-up repetitions; setup_s counts their median
CORPUS_SCALE = 0.01      # suite_churn corpus: 60k lineitem rows
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.exists(r):
            fail(f"missing build input {os.path.relpath(r, ROOT)}")
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(env):
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    log("perfbench: building engine + benchmark (first run in this checkout)")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       HERE, env, out, BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_child(cmd, cwd, env, out, timeout):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait until it has ended. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:  # leave nothing behind from the group
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_jvm(args, env, run_dir, out_json):
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = env.get("SPARK_DRIVER_MEM", "8g")  # the engine's own driver heap setting
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--setup-reps", str(SETUP_REPS),
              "--work", os.path.join(run_dir, "work"), "--out", out_json,
              "--fair-xml", os.path.join(ROOT, "conf", "fairscheduler.xml"),
              "--input", os.path.join(run_dir, "corpus")])
    jenv = dict(env, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as out:
        try:
            rc = run_child(cmd, run_dir, jenv, out, RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_json):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        log(tail)
        fail(f"workload JVM failed ({rc})")


# ---------------------------------------------------------------- metrics

def summarize(name, unit, xs, tails=(90,)):
    """A summary line: median and each tail the sample supports, with n."""
    n = len(xs)
    parts = [f"{name} [{unit}] n={n}"]
    if n:
        parts.append(f"p50={median(xs):.4f}")
        for p in tails:
            if stats.supports(n, p):
                parts.append(f"p{p}={percentile(xs, p):.4f}")
            else:
                parts.append(f"p{p}=n/a (needs {stats.TAIL_MIN_BEYOND} beyond)")
        hp = stats.highest_supported(n)
        if hp and hp not in tails and hp > 50:
            parts.append(f"p{hp}={percentile(xs, hp):.4f}")
    return "  ".join(parts)


def setup_seconds(res, spawn_epoch, corpus_s):
    prep = median(res["blobs"]["setup.prepare_s"])
    return (res["scalars"]["session_ready_epoch_s"] - spawn_epoch
            + res["scalars"]["setup.generate_s"] + prep + res["scalars"]["setup.warmup_s"] + corpus_s)


def stream_view(res):
    b = res["blobs"]
    files = b.get("stream.files", [])
    progress = b.get("stream.progress", [])
    fb = b.get("stream.file_batch", {})
    lags, missing = stats.ingest_lags(files, fb, progress)
    return files, progress, fb, lags, missing


def end_to_end(workload, res, setup_s):
    """The gated metrics of an untraced run, and summary lines for every
    end-to-end measurement. Per workload the two timings are:

      metric         service_mix                      suite_churn
      latency_s.p50  ingest lag: file due -> commit   one query: call -> count(),
                                                      median over the queries
                                                      of each one's median
      unit_s         ingest time per 1,000 rows:      one pass: the sum of the
                     first due time -> last commit,   per-query medians
                     per 1,000 rows committed

    Batch jobs, page reads, micro-batches, merges and committed reads are
    summarised but not gated: a run holds too few of them (1-4 batches,
    about 10 micro-batches, 1-3 merges), or they fall into two modes (a read
    that overlaps a merge waits for it), so their run-to-run spread is wider
    than any usable bound.
    """
    s = res["samples"]
    sc = res["scalars"]
    if workload == "service_mix":
        files, progress, fb, lags, missing = stream_view(res)
        committed_by = {fb[f["name"]] for f in files if f["name"] in fb}
        ends = [p["start_ms"] + p["trigger_ms"] for p in progress if p["batch"] in committed_by]
        t0 = sc["service_mix.open_loop_start_epoch_s"]
        rows = (len(files) - len(missing)) * (files[0]["rows"] if files else 0)
        rows_per_s = stats.ratio(rows, max(ends) / 1e3 - t0) if ends else 0.0
        done = len(s.get("batch_e2e_s", []))
        minutes = (sc.get("service_mix.last_completion_epoch_s", t0) - t0) / 60.0
        micro = [p["trigger_ms"] / 1e3 for p in live_batches(res)]
        lines = [summarize("ingest_lag_s", "s", lags, (90, 95)),
                 f"ingest_rows_per_s [rows/s] {rows_per_s:.1f} (offered 2000)",
                 summarize("microbatch_s", "s", micro),
                 summarize("batch_e2e_s", "s", s.get("batch_e2e_s", [])),
                 f"batches_per_min [1/min] {stats.ratio(done, minutes):.3f}",
                 summarize("page_read_s", "s", s.get("page_read_s", []))]
        latency, unit = median(lags), (1000 / rows_per_s if rows_per_s else None)
    else:
        per_q = [median(v) for k, v in s.items() if k.startswith("query_s.")]
        unit = sum(per_q) if per_q else None
        lines = [f"suite_s [s] {unit or 0:.4f} (sum of per-query medians, {len(per_q)} queries, "
                 f"{int(sc.get('query_suite.passes', 0))} passes)",
                 summarize("query_s", "s", s.get("query_s", [])),
                 summarize("merge_s", "s", s.get("merge_s", [])),
                 summarize("read_committed_s", "s", s.get("read_committed_s", []))]
        latency = median(per_q)
    m = {"setup_s": (setup_s, "s"),
         "latency_s.p50": (latency, "s"),
         "unit_s": (unit, "s"),
         "heap_used_mb": (sc["heap_used_mb"], "MB")}
    empty = [k for k, (v, _) in m.items() if v is None]
    if empty:
        fail(f"no samples for {empty}")
    return m, lines


def live_batches(res):
    """Micro-batches with rows that started while the open loop ran."""
    sc = res["scalars"]
    lo = sc.get("service_mix.open_loop_start_epoch_s", 0) * 1000
    hi = sc.get("service_mix.open_loop_end_epoch_s", 0) * 1000
    return [p for p in res["blobs"].get("stream.progress", [])
            if lo <= p["start_ms"] < hi and p["rows"] > 0]


def per_layer(workload, res, spans, jobs):
    """Per-layer metrics of a traced run (METRICS.md), each as (value, unit);
    0 where the workload does not exercise the layer."""
    s = res["samples"]
    sc = res["scalars"]
    t_lo, t_hi = sc["timed.start_s"], sc["timed.end_s"]
    timed = [x for x in spans if t_lo <= x["start_s"] <= t_hi]
    by_name = {}
    for x in timed:
        by_name.setdefault(x["name"], []).append(x)
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["span"], []).append(j)

    def durs(name, src=None):
        return [x["end_s"] - x["start_s"] for x in (src or by_name).get(name, [])]

    def p50(xs):
        return median(xs) if xs else 0.0

    def tagged(name, src=None):
        return [j for x in (src or by_name).get(name, []) for j in jobs_of.get(x["id"], [])]

    m = {}
    # operators: per-pass totals (sum over calls × queries per pass ÷ calls)
    nq = len([k for k in s if k.startswith("query_s.")])
    calls = len(by_name.get("operators.execute", []))
    per_pass = stats.ratio(nq, calls)
    for phase in ("construct", "plan", "execute"):
        m[f"operators.{phase}_s"] = (sum(durs(f"operators.{phase}")) * per_pass, "s")
    m["operators.construct_jobs"] = (len(tagged("operators.construct")) * per_pass, "count")
    m["operators.execute_jobs"] = (len(tagged("operators.execute")) * per_pass, "count")
    # Tables.load is probed once per table after the timed window
    probe = {"core.tables_load": [x for x in spans if x["name"] == "core.tables_load"]}
    m["core.tables_load_s"] = (float(sum(durs("core.tables_load", probe))), "s")
    m["core.tables_load_jobs"] = (float(len(tagged("core.tables_load", probe))), "count")
    m["core.txnlog_version_s"] = (p50(durs("core.txnlog_version")), "s")
    merges = by_name.get("batch.mergeByKey", [])
    mj = tagged("batch.mergeByKey")
    m["batch.merge_jobs"] = (stats.ratio(len(mj), len(merges)), "count")
    m["batch.merge_tasks"] = (stats.ratio(sum(j["tasks"] for j in mj), len(merges)), "count")
    m["batch.merge_cpu_share"] = (stats.ratio(sum(j["cpu_s"] for j in mj),
                                              sum(j["run_s"] for j in mj)), "ratio")
    m["batch.read_resolve_s"] = (p50(durs("batch.read_resolve")), "s")
    m["batch.read_execute_s"] = (p50(durs("batch.read_execute")), "s")
    m["batch.read_retries_per_read"] = (stats.ratio(
        res["counts"].get("retries.read", 0), len(s.get("read_committed_s", []))), "ratio")
    m["batch.queue_wait_s.p50"] = (p50(s.get("batch.queue_wait_s", [])), "s")
    m["batch.run_s.p50"] = (p50(s.get("batch.run_s", [])), "s")
    readdata = p50(s.get("batch.readdata_s", []))
    m["batch.readdata_s.p50"] = (readdata, "s")
    pages = s.get("page_read_s", [])
    m["http.page_overhead_s.p50"] = ((p50(pages) - readdata) if pages else 0.0, "s")
    m["http.status_s.p50"] = (p50(s.get("http.status_s", [])), "s")
    m["http.page_read_s.p50"] = (p50(pages), "s")
    m["batch.merge_s.p50"] = (p50(s.get("merge_s", [])), "s")
    m["batch.read_committed_s.p50"] = (p50(s.get("read_committed_s", [])), "s")
    # streaming: micro-batches that started once the open loop was running
    files, progress, fb, lags, _ = stream_view(res)
    live = live_batches(res)
    mb = [p["trigger_ms"] / 1e3 for p in live]
    m["streaming.microbatch_s.p50"] = (p50(mb), "s")
    m["streaming.microbatch_s.p90"] = (percentile(mb, 90) if mb else 0.0, "s")
    m["streaming.add_batch_s.p50"] = (p50([p["add_batch_ms"] / 1e3 for p in live]), "s")
    m["streaming.latest_offset_s.p50"] = (p50([p["latest_offset_ms"] / 1e3 for p in live]), "s")
    m["streaming.query_planning_s.p50"] = (p50([p["query_planning_ms"] / 1e3 for p in live]), "s")
    m["streaming.rows_per_batch.p50"] = (p50([p["rows"] for p in live]), "rows")
    m["streaming.backlog_files_max"] = (
        float(stats.backlog_max(files, fb, progress)) if files else 0.0, "files")
    late = [f["landed_ms"] - f["due_ms"] for f in files]
    m["gen.late_ms.max"] = (float(max(late)) if late else 0.0, "ms")
    # Spark scheduler, over jobs submitted in the timed phase
    tj = [j for j in jobs if t_lo <= j["start_s"] <= t_hi]
    wall = t_hi - t_lo
    task_run_s = sum(j["run_s"] for j in tj)
    m["spark.jobs"] = (float(len(tj)), "count")
    m["spark.tasks"] = (float(sum(j["tasks"] for j in tj)), "count")
    m["spark.task_run_s"] = (task_run_s, "s")
    m["spark.task_cpu_s"] = (sum(j["cpu_s"] for j in tj), "s")
    m["spark.cpu_busy_share"] = (stats.ratio(task_run_s, CORES * wall), "ratio")
    m["spark.shuffle_read_mb"] = (sum(j["shuffle_read_b"] for j in tj) / 2**20, "MB")
    m["spark.shuffle_write_mb"] = (sum(j["shuffle_write_b"] for j in tj) / 2**20, "MB")
    for pool in ("default", "batch", "streaming"):
        waits = [j["first_task_s"] - j["start_s"] for j in tj
                 if j["pool"] == pool and j["first_task_s"] >= 0]
        m[f"spark.pool_wait_s.{pool}.p50"] = (p50(waits), "s")
    m["ops.fail_ratio"] = (stats.ratio(sum_counts(res, "failed."), sum_counts(res, "attempted.")),
                           "ratio")
    return m


def sum_counts(res, prefix):
    return sum(v for k, v in res["counts"].items() if k.startswith(prefix))


# ---------------------------------------------------------------- checks

def oracle_checks(res):
    """suite_churn: each query's row count against DuckDB over the same
    corpus files, where the library has oracle SQL for it."""
    import duckdb
    corpus_dir = res["blobs"]["corpus_dir"]
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    out = []
    counts = res["blobs"]["query_counts"]
    for name, sql in sorted(res["blobs"]["oracle_sql"].items()):
        try:
            want = len(con.execute(sql).fetchall())
        except Exception as e:  # an oracle that cannot run is a failed check
            out.append((f"oracle_count.{name}", False, f"duckdb: {e}"))
            continue
        got = counts.get(name)
        out.append((f"oracle_count.{name}", got == want, f"spark={got} duckdb={want}"))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the local repositories only, as the engine's build does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    build(env)

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_json = os.path.join(run_dir, "result.json")
    try:
        corpus_s = 0.0
        if args.workload == "suite_churn":
            times = []
            for r in range(1, SETUP_REPS + 1):
                t = time.time()
                corpus.generate(os.path.join(run_dir, "corpus", f"rep{r}"), CORPUS_SCALE, args.seed)
                times.append(time.time() - t)
            corpus_s = median(times)
        spawn = time.time()
        run_jvm(args, env, run_dir, out_json)
        jvm_s = time.time() - spawn
        with open(out_json) as fh:
            res = json.load(fh)
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if args.workload == "suite_churn":
            checks += oracle_checks(res)
        setup_s = setup_seconds(res, spawn, corpus_s)
        e2e, lines = end_to_end(args.workload, res, setup_s)
        attempted = sum_counts(res, "attempted.")
        failed = sum_counts(res, "failed.")
        retries = sum_counts(res, "retries.")
        lines.append(f"fail_ratio [ratio] {stats.ratio(failed, attempted):.4f} "
                     f"({failed} failed of {attempted} attempted, {retries} retries)")
        lines.append(f"setup_s [s] {setup_s:.4f} (session {res['scalars']['session_ready_epoch_s'] - spawn:.2f}, "
                     f"generate {res['scalars']['setup.generate_s']:.2f}, "
                     f"prepare reps {['%.2f' % x for x in res['blobs']['setup.prepare_s']]}, "
                     f"warm-up {res['scalars']['setup.warmup_s']:.2f}, corpus {corpus_s:.2f})")
        lines.append(f"heap_used_mb [MB] {res['scalars']['heap_used_mb']:.1f}")
        lines.append(f"run wall [s] jvm {jvm_s:.1f}, timed phase {res['scalars']['timed.wall_s']:.1f}, "
                     f"verify {res['scalars']['verify_s']:.1f}")
        for k, v in sorted(res["samples"].items()):
            if k.startswith("warmup."):
                lines.append(f"{k} [s] " + " ".join(f"{x:.2f}" for x in v))
        bad = [c for c in checks if not c[1]]
        lines.append(f"checks: {len(checks) - len(bad)}/{len(checks)} passed"
                     + "".join(f"\n  FAIL {n}: {d}" for n, d in [(c[0], c[2]) for c in bad][:20]))
        hist = os.path.join(BUILD, "results")
        os.makedirs(hist, exist_ok=True)
        shutil.copy(out_json, os.path.join(hist, f"{args.workload}-{args.seed}-trace{args.trace}.raw.json"))
        if args.trace == 0:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            with open(os.path.join(hist, f"{args.workload}-{args.seed}.e2e.json"), "w") as fh:
                json.dump(metrics, fh)
        else:
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            spans, jobs = [], []
            for kind, acc in (("spans", spans), ("jobs", jobs)):
                src = f"{out_json}.{kind}.jsonl"
                with open(src) as fh:
                    acc.extend(json.loads(line) for line in fh if line.strip())
                shutil.copy(src, os.path.join(trace_dir, f"{args.workload}-{args.seed}.{kind}.jsonl"))
            layers = per_layer(args.workload, res, spans, jobs)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            self_t = stats.self_times(spans)
            by = {}
            for x in spans:
                by.setdefault(x["name"], []).append(self_t[x["id"]])
            lines.append("span self time (s): " + ", ".join(
                f"{k} n={len(v)} sum={sum(v):.3f}" for k, v in sorted(by.items())))
            untraced = os.path.join(hist, f"{args.workload}-{args.seed}.e2e.json")
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    base = json.load(fh)
                lines.append("tracing overhead (traced - untraced, same seed): " + ", ".join(
                    f"{k} {v - base[k]['value']:+.4f} {u}" for k, (v, u) in e2e.items()))
            else:
                lines.append("tracing overhead: no untraced run of this workload and seed yet")
        for line in lines:
            print(line)
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
