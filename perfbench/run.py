#!/usr/bin/env python3
"""Layered benchmark for the spark-graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload coloring|queries \
        --seed N --seconds S --trace 0|1

It builds the engine and the harness from source (sbt, into .bench_build/),
runs one workload in a fresh JVM on local[nproc], checks every output, prints
a readable report and, as the last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}.  --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.  The
exit code is 0 only when every operation succeeded and every check held.

Self-test options (not used for measurements):
    --break-op I        operation I raises before it runs
    --break-coloring I  the coloring written by operation I is damaged
    --record            write perfbench/expected/<scale>.json from this run
See perfbench/NOTES.md for the workloads and the layer -> metric map.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CORPUS_SCALE = "sf0.001"
EXPECTED = os.path.join(HERE, "expected", CORPUS_SCALE + ".json")
WORKLOADS = ("coloring", "queries")
MODULES = ("ops.GraphOps", "ops.ColorQueries", "ops.Relational", "ops.EventAnalytics",
           "ops.Sketches", "ops.Skew", "ops.StreamQueries", "ops.Linkage",
           "llm.TextStats", "llm.Dedup", "llm.Similarity", "llm.Tokenizer",
           "llm.Multimodal", "sources.SinkQueries")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# Tolerated gap between an operation's wall and the sum of its spans.
SPAN_TOLERANCE = 0.10
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
HEAP = "3g"


def spark_home():
    """SPARK_HOME, else the first `spark-submit` on PATH that sits in a Spark
    installation (a directory with `bin/` and `jars/`)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    log("no Spark installation found: set SPARK_HOME")
    sys.exit(2)


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_files():
    out = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_bounded(cmd, cwd, timeout, log_path, env=None):
    """Run cmd in its own process group, output to log_path; kill the group
    on timeout and always wait for it. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT, env=env,
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


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(stamp):
    """Compile engine + harness with sbt unless this source state is built."""
    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt (first run in this checkout)")
    t0 = time.time()
    rc = run_bounded(["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true", "compile"], HERE,
                     BUILD_TIMEOUT_S, os.path.join(BUILD, "build.log"), env)
    if rc != 0:
        log("build failed (rc=%s):\n%s" % (rc, tail(os.path.join(BUILD, "build.log"))))
        sys.exit(2)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("build done in %.1f s" % (time.time() - t0))
    return classes


def run_jvm(classes, args, trace, stamp, deadline):
    tag = "%s-s%d-t%d" % (args.workload, args.seed, trace)
    work = os.path.join(BUILD, "work", tag)
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    raw_path = os.path.join(out_dir, "%s-%s.raw.json" % (tag, stamp))
    if os.path.exists(raw_path):
        os.remove(raw_path)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0_ms = int(time.time() * 1000)
    # No hsperfdata file: the JVM would write it under /tmp.
    cmd = ["java", "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + work,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_home(), "jars", "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace), "--root", ROOT,
            "--work", work, "--out", raw_path, "--t0-ms", str(t0_ms)]
    if args.break_op is not None:
        cmd += ["--break-op", str(args.break_op)]
    if args.break_coloring is not None:
        cmd += ["--break-coloring", str(args.break_coloring)]
    jvm_log = os.path.join(out_dir, tag + ".log")
    rc = run_bounded(cmd, ROOT, max(10, deadline - time.time()), jvm_log)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(raw_path):
        log("JVM run failed (rc=%s):\n%s" % (rc, tail(jvm_log)))
        return None
    with open(raw_path) as f:
        return json.load(f)


def load_expected():
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)["queries"]


def check_ops(raw, expected):
    """Mark each op failed when the JVM failed it or its output does not
    match the expected rows/digest. Returns the op list with `ok` final."""
    ops = raw["ops"]
    colors = {o["colors"] for o in ops if o["ok"] and o["name"] == "coloring"}
    for o in ops:
        if not o["ok"]:
            continue
        if o["name"] == "coloring":
            if len(colors) > 1:
                o["ok"], o["err"] = False, "colors_used differs between operations: %s" % sorted(colors)
            continue
        e = expected.get(o["name"])
        if e is None:
            o["ok"], o["err"] = False, "no expected result recorded"
        elif o["rows"] != e["rows"]:
            o["ok"], o["err"] = False, "rows %d, expected %d" % (o["rows"], e["rows"])
        elif e["digest"] is not None and o["digest"] != e["digest"]:
            o["ok"], o["err"] = False, "digest %s, expected %s" % (o["digest"], e["digest"])
    return ops


def end_to_end(raw, ops):
    good = [o for o in ops if o["ok"]]
    walls = [o["wall_s"] for o in good]
    if not walls:
        return {}
    return {
        "op_p50_s": (statistics.median(walls), "s"),
        "op_mean_s": (sum(walls) / len(walls), "s"),
        "cpu_per_op_s": (sum(o["cpu_s"] for o in good) / len(good), "s"),
        "setup_s": (raw["setup"]["setup_s"], "s"),
    }


def per_layer(raw, ops, untraced):
    passes = raw["passes"]
    good = [o for o in ops if o["ok"]]
    lay = {x["i"]: x for x in raw["layers"]["per_op"]}
    gl = [lay[o["i"]] for o in good]

    def span(o, k):
        return o["spans"].get(k, 0.0)

    def per_pass(x):
        return x / passes

    m = {}
    for mod in MODULES:
        mine = [o for o in good if o["module"] == mod]
        m[mod + ".eager_s"] = (per_pass(sum(span(o, "eager_s") for o in mine)), "s")
        m[mod + ".action_s"] = (per_pass(sum(span(o, "action_s") for o in mine)), "s")
    col = [o for o in good if o["name"] == "coloring"]

    def med(xs):
        return statistics.median(xs) if xs else 0.0
    m["color.search_s"] = (med([span(o, "search_s") for o in col]), "s")
    m["color.validate_s"] = (med([span(o, "validate_s") for o in col]), "s")
    m["color.rounds"] = (med([o["rounds"] for o in col]), "count")
    m["color.colors_used"] = (med([o["colors"] for o in col]), "count")
    m["model.read_s"] = (med([span(o, "read_s") for o in col]), "s")
    m["model.write_s"] = (med([span(o, "write_s") for o in col]), "s")
    m["model.generate_s"] = (statistics.median(raw["setup"]["prep_s"]) if col else 0.0, "s")

    def total(k):
        return per_pass(sum(x[k] for x in gl))
    m["plan.executions"] = (total("plan_executions"), "count")
    m["plan.analysis_s"] = (total("plan_analysis_s"), "s")
    m["plan.optimization_s"] = (total("plan_optimization_s"), "s")
    m["plan.planning_s"] = (total("plan_planning_s"), "s")
    m["codegen.compiles"] = (per_pass(sum(o["codegen_compiles"] for o in good)), "count")
    m["codegen.compile_s"] = (per_pass(sum(o["codegen_compile_s"] for o in good)), "s")
    m["codegen.generate_s"] = (per_pass(sum(o["codegen_generate_s"] for o in good)), "s")
    m["driver.gap_s"] = (total("driver_gap_s"), "s")
    m["sched.jobs"] = (total("jobs"), "count")
    m["sched.stages"] = (total("stages"), "count")
    m["sched.stages_skipped"] = (total("stages_skipped"), "count")
    m["sched.tasks"] = (total("tasks"), "count")
    tasks = sum(x["tasks"] for x in gl)
    m["sched.empty_task_frac"] = (sum(x["empty_tasks"] for x in gl) / tasks if tasks else 0.0, "ratio")
    m["exec.run_s"] = (total("run_s"), "s")
    m["exec.cpu_s"] = (total("cpu_s"), "s")
    m["exec.gc_s"] = (total("gc_s"), "s")
    m["shuffle.read_mb"] = (total("shuffle_read_mb"), "MB")
    m["shuffle.write_mb"] = (total("shuffle_write_mb"), "MB")
    m["shuffle.spill_mb"] = (total("spill_mb"), "MB")
    m["storage.resident_mb_end"] = (raw["layers"]["storage_resident_mb_end"], "MB")
    m["storage.peak_mb"] = (raw["layers"]["storage_peak_mb"], "MB")
    m["jvm.jit_s"] = (per_pass(sum(o["jit_s"] for o in good)), "s")
    m["jvm.gc_s"] = (per_pass(sum(o["gc_s"] for o in good)), "s")
    m["jvm.heap_peak_mb"] = (raw["heap_peak_mb"], "MB")
    m["jvm.rss_peak_mb"] = (raw["rss_peak_mb"], "MB")
    traced = statistics.mean(o["wall_s"] for o in good) if good else 0.0
    base = [o["wall_s"] for o in untraced["ops"] if o["ok"]] if untraced else []
    m["trace.overhead_frac"] = (traced / statistics.mean(base) - 1.0 if base else 0.0, "ratio")
    m["trace.span_error_max_frac"] = (max((span_error(o) for o in good), default=0.0), "ratio")
    return m


def span_error(o):
    """|wall - sum of spans| / wall for one operation."""
    s = sum(o["spans"].values())
    return abs(o["wall_s"] - s) / o["wall_s"] if o["wall_s"] > 0 else 0.0


def record_expected(ops):
    """Merge this run's query outputs into the expected file. A digest that
    differs from an earlier recording is replaced by null (rows-only check)
    and the query is listed under `digest_not_repeating`."""
    doc = {"scale": CORPUS_SCALE, "queries": {}, "digest_not_repeating": []}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            doc = json.load(f)
    q = doc["queries"]
    for o in ops:
        if o["name"] == "coloring" or not o["ok"]:
            continue
        prev = q.get(o["name"])
        if prev is None:
            q[o["name"]] = {"rows": o["rows"], "digest": o["digest"]}
        elif prev["rows"] != o["rows"]:
            raise SystemExit("%s: row count changed between recordings" % o["name"])
        elif prev["digest"] is not None and prev["digest"] != o["digest"]:
            prev["digest"] = None
    doc["digest_not_repeating"] = sorted(k for k, v in q.items() if v["digest"] is None)
    doc["queries"] = dict(sorted(q.items()))
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=False)
        f.write("\n")
    log("recorded %d queries into %s" % (len(q), EXPECTED))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--break-op", type=int)
    ap.add_argument("--break-coloring", type=int)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        log("engine sources not found at %s: run from the root of a checkout" % ENGINE_SRC)
        sys.exit(2)

    stamp = source_digest()
    classes = build(stamp)
    deadline = time.time() + RUN_TIMEOUT_S
    raw = run_jvm(classes, args, args.trace, stamp, deadline)
    if raw is None:
        sys.exit(3)
    untraced = None
    if args.trace:
        # The tracing overhead compares against an untraced run of the same
        # workload, seed and length: reused when this checkout has one, else
        # run now with the time that is left.
        cached = os.path.join(BUILD, "out", "%s-s%d-t0-%s.raw.json" % (args.workload, args.seed, stamp))
        if os.path.exists(cached) and args.break_op is None and args.break_coloring is None:
            with open(cached) as f:
                untraced = json.load(f)
            if untraced["stamp"]["seconds"] != args.seconds:
                untraced = None
        if untraced is None and deadline - time.time() > 10:
            untraced = run_jvm(classes, args, 0, stamp, deadline)

    if args.record:
        ops = raw["ops"]
        record_expected(ops)
    else:
        ops = check_ops(raw, load_expected())
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    if args.trace:
        metrics = per_layer(raw, ops, untraced)
        consistent = metrics["trace.span_error_max_frac"][0] <= SPAN_TOLERANCE
    else:
        metrics = end_to_end(raw, ops)
        consistent = True
    correct = failed == 0 and consistent and bool(metrics)

    st = raw["stamp"]
    st.update({"git_commit": git_commit(), "source_digest": stamp,
               "corpus_path": st["corpus"], "passes": raw["passes"], "timed_s": raw["timed_s"]})
    print("# perfbench %s" % json.dumps(st, sort_keys=True))
    print("# setup: %s" % json.dumps(raw["setup"], sort_keys=True))
    print("# operations: %d attempted, %d failed, failed_frac %.4f, %d passes"
          % (attempted, failed, failed / attempted if attempted else 0.0, raw["passes"]))
    for o in ops:
        if not o["ok"]:
            print("# FAILED op %d %s: %s" % (o["i"], o["name"], o["err"]))
    if args.trace and untraced is None:
        print("# no untraced run to compare with: trace.overhead_frac reads 0")
    if args.trace and not consistent:
        print("# trace inconsistent: an op's spans miss its wall by more than %d %%"
              % (SPAN_TOLERANCE * 100))
    if args.trace:
        trace_path = os.path.join(BUILD, "out", "%s-s%d-%s.trace.json" % (args.workload, args.seed, stamp))
        with open(trace_path, "w") as f:
            json.dump({"stamp": st, "ops": ops, "layers": raw["layers"]}, f)
        print("# per-operation trace: %s" % os.path.relpath(trace_path, ROOT))
    for k, (v, unit) in metrics.items():
        print("# %-32s %16.6f %s" % (k, v, unit))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
