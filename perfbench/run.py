#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Steps:

1. build: compile the program (src/main/scala) with the harness
   (perfbench/src) through perfbench/build.sbt, once per source
   fingerprint;
2. inputs: generate the workload's inputs from --seed (perfbench/gen.py),
   cached by (seed, size) under perfbench/.state/inputs;
3. run: one JVM sets up SETUPS times and runs a closed loop of ops for
   --seconds (with --trace 1, twice as long, the ops taking the traced
   modes in turn);
4. check the program's outputs (DuckDB oracles, generator totals);
5. print one JSON line: end-to-end metrics (--trace 0) or per-layer
   metrics (--trace 1).

Exit code 0 only when every op ran and every output check passed.
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
STATE = os.path.join(HERE, ".state")
DEADLINE_S = 170
SETUPS = 2  # set-ups per run; setup_s is their median
CORES = 4  # local[CORES], the box's core count

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("daily_batch", "incremental_waves")

# JDK 17 module opens Spark needs outside spark-submit (as build.sbt's)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source fingerprint; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("program sources not found: run from the root of "
                         "a checkout of the repository")
    out = os.path.join(STATE, "build")
    os.makedirs(out, exist_ok=True)
    fp = fingerprint()
    cp_file = os.path.join(out, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    log("building (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-no-colors", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, stdin=subprocess.DEVNULL, timeout=840)
    with open(os.path.join(out, "sbt.log"), "w") as f:
        f.write(proc.stdout)
    lines = [ln.strip() for ln in proc.stdout.splitlines()
             if ".jar:" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(ln for ln in proc.stdout.splitlines()
                                    if ln.startswith("[error]"))[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    for old in os.listdir(out):
        if old.endswith(".jsa"):
            os.remove(os.path.join(out, old))
    with open(cp_file, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, f)
    return lines[-1]


def class_archive():
    """JVM flags for the class-data archive of this build (JDK dynamic
    CDS): the first run writes it at exit, later runs map it, which takes
    several seconds off every JVM start."""
    path = os.path.join(STATE, "build", "classes.jsa")
    if os.path.exists(path):
        return [f"-XX:SharedArchiveFile={path}"], None
    return [f"-XX:ArchiveClassesAtExit={path}.tmp"], path


def run_jvm(cp, args, data, work, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # JIT: the client compiler only (C1), early, with room for all the
    # code it compiles. A run is too short for C2: with it, op latency kept
    # falling through the whole window (8.1 s to 4.9 s over nine
    # daily_batch ops), so a median depended on how far into the trend a
    # window reached; with C1 the ops are flat from the first timed op
    cds, new_archive = class_archive()
    cmd = [java, *ADD_OPENS, *cds, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--setups", str(SETUPS), "--cores", str(CORES),
           "--data", data, "--work", work, "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as sink:
        proc = subprocess.Popen(cmd, cwd=work, stdout=sink,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("benchmark JVM timed out")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
    if new_archive and os.path.exists(new_archive + ".tmp"):
        os.replace(new_archive + ".tmp", new_archive)
    with open(out) as f:
        return json.load(f)


def end_to_end(res):
    w = res["window"]
    lat = [o["wall_s"] for o in w["ops"] if o["ok"]] or [float("nan")]
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "ops_per_s": (len(w["ops"]) / w["elapsed_s"], "1/s"),
    }


def per_layer(res, cores):
    """Layer counters come from the ops traced as the public call itself
    ("call"); spans inside an op from the composed ops where the workload
    has them (daily_batch), else from the call ops."""
    calls = [x for x in res["layers"] if x["mode"] == "call"]
    composed = [x for x in res["layers"] if x["mode"] == "composed"]
    spanned = composed or calls

    def mean(key):
        return sum(x[key] for x in calls) / len(calls)

    def span(name):
        return sum(x["spans"].get(name, 0.0) for x in spanned) / len(spanned)

    walls = {}
    for o in res["window"]["ops"]:
        walls.setdefault(o["mode"], []).append(o["wall_s"])
    run_s = sum(x["run_s"] for x in calls)
    bin_ = res["bytes_input"]
    m = {
        "operators.construct_s": (span("operators.construct"), "s"),
        "catalyst.analysis_s": (mean("analysis_s"), "s"),
        "catalyst.optimization_s": (mean("optimization_s"), "s"),
        "catalyst.planning_s": (mean("planning_s"), "s"),
        "catalyst.executions": (mean("executions"), "count"),
        "catalyst.exchanges": (mean("exchanges"), "count"),
        "scheduler.jobs": (mean("jobs"), "count"),
        "scheduler.stages": (mean("stages"), "count"),
        "scheduler.tasks": (mean("tasks"), "count"),
        "scheduler.delay_s": (mean("delay_s"), "s"),
        "scheduler.idle_slot_frac": (
            1 - run_s / (sum(x["wall_s"] for x in calls) * cores),
            "fraction"),
        "driver.self_s": (mean("wall_s") - mean("busy_s"), "s"),
        "executor.run_s": (mean("run_s"), "s"),
        "executor.cpu_s": (mean("cpu_s"), "s"),
        "executor.gc_s": (mean("gc_s"), "s"),
        "executor.shuffle_read_bytes": (mean("shuffle_read_bytes"), "B"),
        "executor.shuffle_write_bytes": (mean("shuffle_write_bytes"), "B"),
        "executor.spill_bytes": (mean("spill_bytes"), "B"),
        "executor.failed_tasks": (mean("failed_tasks"), "count"),
        "sources.input_bytes": (mean("input_bytes"), "B"),
        "sources.output_bytes": (mean("output_bytes"), "B"),
        "sources.output_files": (mean("output_files"), "count"),
        "sources.standing_bytes": (mean("standing_bytes"), "B"),
        "sources.state_bytes": (mean("state_bytes"), "B"),
        "sources.bytes_written_per_input_byte": (
            res["bytes_written"] / bin_ if bin_ else 0.0, "ratio"),
        "jvm.driver_gc_s": (mean("jvm_gc_s"), "s"),
        "jvm.heap_live_mb": (res["window"]["heap_live_bytes"] / 2**20, "MB"),
        # call ops against untraced ops on the same inputs
        "trace.overhead_frac": (
            statistics.median(walls["call"])
            / statistics.median(walls["plain"]) - 1, "fraction"),
    }
    samples = {k: len(calls) for k in m}
    samples["operators.construct_s"] = len(spanned)
    samples["jvm.heap_live_mb"] = 1
    samples["sources.bytes_written_per_input_byte"] = len(
        res["window"]["ops"])
    samples["trace.overhead_frac"] = len(walls["call"]) + len(walls["plain"])
    stages = sorted({k for x in spanned for k in x["spans"]
                     if k != "operators.construct"})
    return m, samples, {k + "_s": span(k) for k in stages}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory")
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    # a terminated run still stops the JVM it started (run_jvm's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    if time.time() > deadline - 150:  # a build ran: it has its own budget
        deadline = time.time() + DEADLINE_S
    t0 = time.time()
    data, manifest = gen.generate(args.workload, args.seed,
                                  os.path.join(STATE, "inputs"))
    t1 = time.time()
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, data, work, deadline)
        t2 = time.time()
        failed, notes = checks.run(args.workload, res, manifest)
        log(f"inputs {t1 - t0:.1f} s, program {t2 - t1:.1f} s, "
            f"checks {time.time() - t2:.1f} s")
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)

    ops = res["window"]["ops"]
    failed |= {o["n"] for o in ops if not o["ok"]}
    attempted = len(ops)
    for line in notes:
        log(line)
    if args.trace:
        metrics, samples, stage_spans = per_layer(res, CORES)
        print(json.dumps({"stage_spans_s": stage_spans}))
    else:
        metrics = end_to_end(res)
        samples = {"setup_s": len(res["setup_s"]), "op_p50_s": len(ops),
                   "ops_per_s": len(ops)}
    print(json.dumps({"samples": samples}))
    log(f"{args.workload}: {len(ops)} timed ops in "
        f"{res['window']['elapsed_s']:.1f} s; setups "
        + ", ".join(f"{x:.2f}" for x in res["setup_s"])
        + f" s; warm-up {res['warmup_s']:.1f} s; "
        f"outputs {res['outputs_s']:.1f} s")
    print(json.dumps({
        "correct": not failed, "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    sys.exit(0 if not failed else 1)


if __name__ == "__main__":
    main()
