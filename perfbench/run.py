#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
        --trace <0|1> [--cores <N>]

Run from the root of a checkout. The first run builds the library jar
(`sbt package`) and the harness (`perfbench/build.sbt`) under the checkout,
then reuses them while their sources are unchanged. The inputs are the
fixed sf0.01 test tables in perfbench/data/sf0.01. Each run starts one JVM (perfbench.Harness) on
`local[N]`, N = min(nproc, 4) unless --cores says otherwise, verifies every
output, and prints as its LAST stdout line one JSON object with exactly the
keys correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it names
the workload, seed, N and the detail files (per-op samples, per-layer
counters, resource state, spans) under perfbench/work/runs/.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

WORK = os.path.join(HERE, "work")
LIB_JAR = os.path.join("target", "scala-2.13", "pyperustatsspark_2.13-0.1.0.jar")
HARNESS_JAR = os.path.join(HERE, "target", "scala-2.13",
                           "perfbench_2.13-0.1.0.jar")
CLASSPATH_FILE = os.path.join(HERE, "target", "classpath.txt")
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 160

WORKLOADS = ["reference-batch", "table-lifecycle", "stream-ingest"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
              "op_p90_s": "s"}

PER_LAYER = {
    "queries.fn_s": "s", "queries.sink_s": "s", "queries.pass_drift": "ratio",
    "plans.executions": "count", "plans.analysis_s": "s",
    "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.dml_s": "s", "plans.maintenance_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.empty_task_frac": "ratio", "spark.job_busy_s": "s",
    "spark.gap_s": "s", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.task_wait_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.tasks_failed": "count",
    "manifest.commit_s": "s", "manifest.read_resolve_s": "s",
    "manifest.version_s": "s", "manifest.history_s": "s",
    "manifest.commits": "count", "manifest.meta_files_end": "count",
    "manifest.meta_bytes_end": "bytes", "manifest.data_files_end": "count",
    "merge.upsert_s": "s", "merge.delete_dv_s": "s",
    "merge.files_rewritten": "count", "merge.rewrite_frac": "ratio",
    "streaming.queries": "count", "streaming.triggers": "count",
    "streaming.empty_trigger_frac": "ratio", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.latest_offset_s": "s",
    "streaming.get_batch_s": "s", "streaming.lifecycle_s": "s",
    "streaming.state_commit_s": "s", "streaming.input_rows": "count",
    "jvm.gc_s": "s", "jvm.heap_live_mb_end": "MB", "jvm.peak_rss_mb": "MB",
    "self.spark_s": "s", "self.plans_s": "s", "self.streaming_s": "s",
    "self.sql_s": "s", "self.merge_s": "s", "self.manifest_s": "s",
    "self.unattributed_s": "s",
    "lifecycle.read_p50_s": "s", "lifecycle.read_p90_s": "s",
    "lifecycle.write_p50_s": "s", "lifecycle.write_p90_s": "s",
    "lifecycle.space_amp": "ratio",
    "resources.streams_active_end": "count",
    "resources.persisted_rdds_end": "count",
    "resources.heap_slope_mb_per_op": "MB/op",
    "resources.scratch_mb_end": "MB",
    "trace.wall_s": "s",
}

# The JVM runs outside spark-submit, so it needs the module opens that
# spark-submit would add on JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths, root):
    """Content hash of the files under `paths` (relative to `root`)."""
    h = hashlib.sha1()
    for p in paths:
        full = os.path.join(root, p)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME, else the
    one that provides spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
    return os.path.join(home, "jars")


def sbt_env():
    """Offline sbt: the build resolves nothing over the network."""
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Builds the library jar and the harness when their sources changed
    since the last build in this checkout."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = tree_hash(["build.sbt", "project/build.properties", "src/main"],
                      root) + tree_hash(["build.sbt", "src"], HERE)
    old = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if old == stamp and os.path.exists(os.path.join(root, LIB_JAR)) and \
            os.path.exists(HARNESS_JAR) and os.path.exists(CLASSPATH_FILE):
        return
    for cwd, tasks in ((root, ["package"]),
                       (HERE, ["package", "writeClasspath"])):
        log(f"building in {os.path.relpath(cwd, root) or '.'}")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"]
                           + tasks, cwd=cwd, env=sbt_env(),
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_jvm(args, data, out):
    cp = HARNESS_JAR + os.pathsep + open(CLASSPATH_FILE).read().strip()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--cores", str(args.cores), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--out", out,
            "--work", os.path.join(out, "work")]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -9
    return rc


def verify_registry(result, root, out_dir):
    """Compares every verified registry op's warm-pass output with its
    DuckDB oracle through the library's own oracle gate, tools/selfcheck.py.
    Returns {query: reason} for mismatches."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import selfcheck
    if not result["verified"]:
        return {}
    dumps = os.path.join(out_dir, "dumps")
    oracle = {q: result["oracle"][q] for q in result["verified"]
              if q in result["oracle"]}
    with open(os.path.join(dumps, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        selfcheck.main(DATA, dumps)
    with open(os.path.join(out_dir, "selfcheck.txt"), "w") as f:
        f.write(report.getvalue())
    bad = {}
    for line in report.getvalue().splitlines():
        if line.startswith("FAIL "):
            q, _, why = line[5:].partition(": ")
            bad[q] = why
    return bad


def timed(result):
    return [s for s in result["samples"] if s["pass"] >= 0]


def lat(s):
    return s["fn_s"] + s["sink_s"]


def end_to_end(result):
    # an op that failed or returned a wrong result misses every limit
    xs = [lat(s) if s["ok"] else benchlib.FAILED_S for s in timed(result)]
    return {"setup_s": result["setup_s"],
            "wall_s": result["timed_wall_s"],
            "op_p50_s": benchlib.percentile(xs, 0.5),
            "op_p90_s": benchlib.percentile(xs, 0.9)}


def per_layer(result, spans):
    c = result["counters"]
    ops = timed(result)
    traced = [s for s in ops if s["traced"]]
    m = {k: float(c.get(k, 0.0)) for k in PER_LAYER}
    m["queries.fn_s"] = sum(s["fn_s"] for s in traced)
    m["queries.sink_s"] = sum(s["sink_s"] for s in traced)
    passes = result["passes"]
    m["queries.pass_drift"] = passes[-1]["wall_s"] / passes[0]["wall_s"]
    m["spark.empty_task_frac"] = c.get("spark.empty_tasks", 0.0) / max(
        1.0, c.get("spark.tasks", 0.0))
    m["merge.rewrite_frac"] = c.get("merge.files_rewritten", 0.0) / max(
        1.0, c.get("merge.files_before", 0.0))
    m["streaming.empty_trigger_frac"] = c.get(
        "streaming.empty_triggers", 0.0) / max(1.0,
                                               c.get("streaming.triggers", 0.0))
    # layer self times (which sum to each op's wall by construction), job
    # cover and trigger cover, op by op
    by_op = {}
    for sp in spans:
        by_op.setdefault(sp["op"], []).append(sp)
    selfs = {f"self.{l}_s": 0.0 for l in benchlib.LAYER_PRIORITY}
    selfs["self.unattributed_s"] = 0.0
    busy = gap = stream_life = 0.0
    for s in traced:
        sps = by_op.get(s["id"], [])
        parts = benchlib.self_times(
            s["start"], s["end"],
            [(x["layer"], x["start"], x["end"]) for x in sps])
        wall_ms = s["end"] - s["start"]
        for l, v in parts.items():
            selfs[f"self.{l}_s"] += v / 1000.0
        clip = lambda x: (max(x["start"], s["start"]), min(x["end"], s["end"]))
        jobs = benchlib.union_length(
            [clip(x) for x in sps if x["name"].startswith("job ")])
        busy += jobs / 1000.0
        gap += (wall_ms - jobs) / 1000.0
        trig = [clip(x) for x in sps if x["layer"] == "streaming"]
        if trig:
            stream_life += (wall_ms - benchlib.union_length(trig)) / 1000.0
    m.update(selfs)
    m["spark.job_busy_s"] = busy
    m["spark.gap_s"] = gap
    m["streaming.lifecycle_s"] = stream_life
    for kind in ("read", "write"):
        xs = [lat(s) if s["ok"] else benchlib.FAILED_S
              for s in traced if s["kind"] == kind]
        for q in (50, 90):
            m[f"lifecycle.{kind}_p{q}_s"] = (
                benchlib.percentile(xs, q / 100) if xs else 0.0)
    res = result["resources"]
    if res:
        last = res[-1]
        m["resources.streams_active_end"] = last["streams_active"]
        m["resources.persisted_rdds_end"] = last["persisted_rdds"]
        m["resources.scratch_mb_end"] = last["scratch_mb"]
        if len(res) > 1:
            xs = list(range(len(res)))
            m["resources.heap_slope_mb_per_op"] = statistics.linear_regression(
                xs, [r["heap_used_mb"] for r in res]).slope
    # the passes (blocks) an untraced run of the same seed times: traced
    # runs do at least two, so pass_drift compares the same work twice
    m["trace.wall_s"] = sum(p["wall_s"]
                            for p in passes[:result["untraced_units"]])
    m["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int,
                    default=min(len(os.sched_getaffinity(0)), 4))
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        log("run from the root of a checkout: no build.sbt or src/main/scala")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload}; one of {WORKLOADS}")
        return 2
    build(root)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-c{args.cores}"
    out = os.path.join(WORK, "runs", name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rc = run_jvm(args, DATA, out)
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        log(f"harness exited {rc}; see {os.path.relpath(out, root)}/jvm.log")
        return 1
    result = json.load(open(result_path))
    # failures outside the timed phase: warm-pass errors, oracle mismatches
    failures = dict(result["warm_failures"])
    failures.update(verify_registry(result, root, out))
    ops = timed(result)
    op_failed = [s for s in ops if not s["ok"]]
    if args.trace:
        spans = []
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f if l.strip()]
        metrics = per_layer(result, spans)
        units = PER_LAYER
    else:
        metrics = end_to_end(result)
        units = END_TO_END
    # every op that failed or returned a wrong result, in the timed phase,
    # the warm pass or the verification
    failed = len(op_failed) + len(failures)
    attempted = len(ops) + result["warm_attempted"]
    summary = {"workload": args.workload, "seed": args.seed,
               "cores": args.cores, "trace": args.trace,
               "ops_timed": len(ops),
               "tail_samples_beyond_p90": benchlib.beyond(len(ops), 0.9),
               "failures": failures,
               "op_errors": {f"{s['name']}#{s['id']}": s["error"]
                             for s in op_failed},
               "metrics": metrics}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    for k, v in list(failures.items())[:5] + [
            (f"{s['name']}#{s['id']}", s["error"]) for s in op_failed[:5]]:
        log(f"FAILED {k}: {v[:200]}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cores": args.cores,
                      "ops": len(ops), "failed_frac": failed / max(1, attempted),
                      "detail": os.path.relpath(out, root)}))
    print(benchlib.result_line(failed == 0, attempted, failed, metrics, units),
          flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
