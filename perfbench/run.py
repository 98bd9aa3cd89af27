#!/usr/bin/env python3
"""graft benchmark: run one workload in fresh JVMs and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload short-sql --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness with sbt (a few minutes);
later runs reuse the build while no source is newer than it. Each run
launches one fresh JVM (graft.perfbench.Main), checks every answer against
expected_digests.tsv, and prints one JSON object as the last line of
standard output. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer metrics. The full run record and, with --trace 1,
the spans are written under perfbench/out/. See README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected_digests.tsv")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")

WORKLOADS = ("short-sql", "tx-incremental")
HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 150

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run_proc(cmd, cwd, timeout, log_path, env=None):
    """Run cmd to completion with output to log_path; kill its whole
    process group on timeout and wait for it either way."""
    with open(log_path, "ab") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=lf,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
               os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "src")]
    if (os.path.exists(CLASSPATH)
            and os.path.getmtime(CLASSPATH) >= newest_mtime(sources)):
        return open(CLASSPATH).read().strip()
    log("building engine and harness with sbt")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    build_log = os.path.join(HERE, "target", "build.log")
    open(build_log, "w").close()
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"],
                  HERE, BUILD_TIMEOUT_S, build_log, env)
    lines = open(build_log).read().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        log("\n".join(lines[-30:]))
        fail(f"build failed (rc={rc}); see {build_log}")
    with open(CLASSPATH, "w") as f:
        f.write(cps[-1].strip() + "\n")
    return cps[-1].strip()


def launch(cp, args):
    """The benchmark JVM, in its own work dirs; returns its record."""
    tmp, local = os.path.join(WORK, "tmp"), os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d)
    out = os.path.join(WORK, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap size keeps the driver's resident set comparable run to run
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", DATA,
            "--expect", args.expected, "--out", out,
            "--spans", os.path.join(WORK, "spans.jsonl"),
            "--launch-ms", repr(time.time() * 1000.0)]
    log_path = os.path.join(WORK, "jvm.log")
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    rc = run_proc(cmd, WORK, RUN_TIMEOUT_S, log_path, env)
    if rc != 0 or not os.path.exists(out):
        tail = open(log_path, errors="replace").read().splitlines()[-25:]
        log("\n".join(tail))
        fail(f"benchmark JVM failed (rc={rc})")
    return json.load(open(out))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0], xs[0], xs[0]] if xs else [float("nan")] * 3
    return statistics.quantiles(xs, n=4, method="inclusive")


def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def ok_runs(p):
    return [q for q in p["queries"] if "err" not in q]


def end_to_end(main):
    """Metrics a user sees, from the untraced timed passes."""
    timed = [p for p in main["passes"] if p["kind"] == "timed" and not p["traced"]]
    cold = [p for p in main["passes"] if p["kind"] == "cold"][0]
    pass_s = [sum(q["sec"] for q in ok_runs(p)) for p in timed]
    per_query = {}
    for p in timed:
        for q in ok_runs(p):
            per_query.setdefault(q["name"], []).append(q["sec"])
    samples = [s for ss in per_query.values() for s in ss]
    geo = math.exp(statistics.fmean(math.log(median(v)) for v in per_query.values()))
    m = {
        "pass_s": (median(pass_s), "s"),
        "geomean_query_s": (geo, "s"),
        "query_p50_s": (median(samples), "s"),
        "query_p90_s": (percentile(samples, 0.9), "s"),
        "setup_s": (main["setup"]["setup_s"], "s"),
        "cold_pass_s": (sum(q["sec"] for q in ok_runs(cold)), "s"),
        "peak_rss_mb": (main["peak_rss_mb"], "MB"),
    }
    extra = {"pass_s_series": pass_s, "pass_s_quartiles": quartiles(pass_s),
             "query_samples": len(samples), "timed_passes": len(timed)}
    return m, extra


def per_layer(main, spans):
    """Layer metrics from the traced timed passes, as medians per pass."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def under(sid, kinds):
        """Descendant spans of sid with a kind in kinds."""
        out, stack = [], [sid]
        while stack:
            for c in children.get(stack.pop(), []):
                if c["kind"] in kinds:
                    out.append(c)
                stack.append(c["id"])
        return out

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def union_s(ivals):
        total, end = 0.0, -math.inf
        for a, b in sorted(ivals):
            if b > end:
                total += (b - max(a, end))
                end = b
        return total / 1e3

    def self_s(s):
        cover = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        return max(0.0, dur(s) - union_s(cover))

    cores = main["nproc"]
    rows = []
    traced = [p for p in main["passes"] if p["kind"] == "timed" and p["traced"]]
    for p in traced:
        ps = by_id[p["span"]]
        queries = [c for c in children.get(ps["id"], []) if c["kind"] == "query"]
        wall = sum(dur(q) for q in queries)
        jobs = under(ps["id"], {"job"})
        stages = under(ps["id"], {"stage"})
        batches = under(ps["id"], {"stream.batch"})
        plans = under(ps["id"], {"plan"})
        phases = under(ps["id"], {"plan.analysis", "plan.optimization", "plan.planning"})
        gap = sum(dur(q) - union_s([(j["start_ms"], j["end_ms"])
                                    for j in under(q["id"], {"job"})])
                  for q in queries)
        st = lambda k: sum(s.get(k, 0.0) for s in stages)
        cpu = st("cpu_ns") / 1e9
        ph = lambda n: sum(dur(x) for x in phases if x["kind"] == n)
        bms = sorted(b["trigger_ms"] for b in batches)
        ntasks = st("tasks")
        rows.append({
            "entry.build_s": sum(dur(s) for s in under(ps["id"], {"build"})),
            "entry.exec_s": sum(dur(s) for s in under(ps["id"], {"exec"})),
            "plan.executions": len(plans),
            "plan.analysis_s": ph("plan.analysis"),
            "plan.optimize_s": ph("plan.optimization"),
            "plan.physical_s": ph("plan.planning"),
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": ntasks,
            "exec.tasks_per_stage": ntasks / len(stages) if stages else 0.0,
            "exec.failed_tasks": len(under(ps["id"], {"task.failed"})),
            "exec.run_s": st("run_ms") / 1e3,
            "exec.cpu_s": cpu,
            "exec.core_util": cpu / (wall * cores) if wall else 0.0,
            "driver.gap_s": gap,
            "driver.gap_share": gap / wall if wall else 0.0,
            "shuffle.write_mb": st("shuffle_write_b") / 1e6,
            "shuffle.read_mb": st("shuffle_read_b") / 1e6,
            "scan.input_mb": st("input_b") / 1e6,
            "spill.disk_mb": st("spill_disk_b") / 1e6,
            "jvm.gc_s": st("gc_ms") / 1e3,
            "write.output_mb": st("output_b") / 1e6,
            "stream.batches": len(batches),
            "stream.batch_p50_ms": median(bms) if bms else 0.0,
            "stream.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1e3,
            "stream.query_planning_s": sum(b["query_planning_ms"] for b in batches) / 1e3,
            "stream.wal_commit_s": sum(b["wal_commit_ms"] for b in batches) / 1e3,
            "stream.commit_offsets_s": sum(b["commit_offsets_ms"] for b in batches) / 1e3,
            "stream.input_rows": sum(b["input_rows"] for b in batches),
            "self.build_s": sum(self_s(s) for s in under(ps["id"], {"build"})),
            "self.exec_s": sum(self_s(s) for s in under(ps["id"], {"exec"})),
            "self.job_s": sum(self_s(j) for j in jobs),
            "leak.tmp_files": p["leak_tmp_files"],
        })
    m = {k: median([r[k] for r in rows]) for k in rows[0]}
    for k in ("setup.jvm_s", "setup.session_s", "setup.warm_s"):
        m[k] = main["setup"][k]
    untraced = [sum(q["sec"] for q in ok_runs(p)) for p in main["passes"]
                if p["kind"] == "timed" and not p["traced"]]
    traced_s = [sum(q["sec"] for q in ok_runs(p)) for p in traced]
    m["trace.pass_s"] = median(traced_s)
    m["trace.untraced_pass_s"] = median(untraced)
    m["trace.overhead_frac"] = median(traced_s) / median(untraced) - 1.0
    return m


LAYER_UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_share": "fraction",
               "_util": "fraction", "_frac": "fraction"}


def unit_of(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    # a terminated run still stops and reaps its JVM (see run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=EXPECTED,
                    help="expected digest file (workload<TAB>query<TAB>digest per line)")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"graft sources not found under {ROOT}")
    if not os.path.isdir(DATA) or not os.path.exists(args.expected):
        fail("benchmark data or expected digests missing")

    started = time.time()
    load1 = os.getloadavg()[0]
    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        main_rec = launch(cp, args)
        spans = []
        if args.trace:
            with open(os.path.join(WORK, "spans.jsonl")) as f:
                spans = [json.loads(l) for l in f]
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    passes = main_rec["passes"]
    attempted = sum(len(p["queries"]) for p in passes)
    failed = sum(len(p["queries"]) - len(ok_runs(p)) for p in passes)
    checked = main_rec["checked"]
    wrong = len(main_rec["wrong"])
    # every query's answer must have been checked, and matched
    correct = wrong == 0 and checked == len(passes[0]["queries"])

    e2e, e2e_extra = end_to_end(main_rec)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": main_rec["nproc"], "jvm": main_rec["jvm"],
        "git_commit": git_commit(), "load1_at_start": load1,
        "calib_cpu": main_rec["calib_cpu"], "calib_shuffle": main_rec["calib_shuffle"],
        "failed_frac": failed / attempted, "wrong_frac": wrong / max(checked, 1),
        "wrong": main_rec["wrong"],
        "setup": main_rec["setup"], "end_to_end": {k: v[0] for k, v in e2e.items()},
        **e2e_extra,
        "passes": passes, "digests": main_rec["digests"],
        "wall_s": time.time() - started,
    }
    if args.trace:
        layers = per_layer(main_rec, spans)
        record["per_layer"] = layers
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(stem + ".spans.jsonl", "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
    print(f"failed_frac={record['failed_frac']:.4f} wrong_frac={record['wrong_frac']:.4f} "
          f"checked={checked} wrong={main_rec['wrong']} record={stem}.json")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def git_commit():
    """The checkout's commit when it is a git repository, else null."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


if __name__ == "__main__":
    main()
