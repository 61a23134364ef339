#!/usr/bin/env python3
"""Standing-query benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload small-deltas --seed 1 --seconds 12 --trace 0

Builds the engine (src/main/scala) and the benchmark (perfbench/scala)
with scalac into .bench_build/perfbench, runs one workload in a fresh
JVM, checks every delivered diff against the benchmark's own reference,
and prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With --trace 0 the metrics are the end-to-end
metrics of BENCHMARK.json; with --trace 1 they are the per-layer
metrics, summarised from the run's span file (see trace_summary.py).
See perfbench/README.md for the workloads and metric definitions.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import trace_summary  # noqa: E402

WORKLOADS = ["small-deltas", "recursion", "bulk-late-query", "bitemporal"]
RUN_TIMEOUT_S = 170
JVM_HEAP = "4g"
# What SparkSession needs on JDK 17 outside spark-submit (the list the
# repository's build.sbt passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JAVA_OPTION_VARS = ["JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
                    "JAVA_OPTS", "SBT_OPTS"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def refuse_polluted_env():
    """The benchmark measures the committed defaults only."""
    if os.environ.get("GRAFT_CONF"):
        fail("GRAFT_CONF is set; unset it to measure the committed defaults")
    for var in JAVA_OPTION_VARS:
        if "-Dgraft." in os.environ.get(var, ""):
            fail(f"{var} sets a -Dgraft.* dial; unset it to measure the "
                 "committed defaults")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(HERE, "scala")
    files = []
    for top in (main, bench):
        if not os.path.isdir(top):
            fail(f"missing source directory {os.path.relpath(top, root)}")
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt declares."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open("build.sbt").read() if os.path.exists("build.sbt") else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        fail(f"no Spark jars at '{jars}'; set SPARK_HOME")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found; set JAVA_HOME")
    return exe


def build(root, out):
    """Compile engine and benchmark sources once per source hash."""
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def other_jvms():
    """JVM processes on the host that this run did not start."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    n += 1
        except OSError:
            pass
    return n


def host_window():
    return {"load1": os.getloadavg()[0], "other_jvms": other_jvms()}


def run_jvm(root, classes, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.level=ERROR"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, spark_jars()]), "perfbench.Main"] + args
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    finally:
        log.close()
    return code


def tail_percentile(samples, beyond=10):
    """The highest percentile of `samples` that has at least `beyond`
    samples above it, as (value, percentile); None when there are
    `beyond` samples or fewer."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    i = n - beyond - 1
    return xs[i], 100.0 * (i + 1) / n


def end_to_end(res):
    steps = res["steps_ms"]
    p50 = statistics.median(steps)
    tail = tail_percentile(steps)
    # With fewer than 21 steps the percentile with 10 samples beyond it
    # lies below the median; the tail then reads as the median.
    tail_ms, tail_pct = tail if tail and tail[1] >= 50.0 else (p50, 50.0)
    rate = sum(res["steps_datoms"]) / (sum(steps) / 1e3)
    metrics = {
        "setup_s": (statistics.median(res["setups_s"]), "s"),
        "update_p50_ms": (p50, "ms"),
        "update_tail_ms": (tail_ms, "ms"),
        "update_rate_dps": (rate, "datoms/s"),
        "first_result_s": (statistics.median(res["registrations_s"]), "s"),
        "driver_heap_mb": (res["heap_mb"], "MB"),
    }
    detail = {"steps": len(steps), "tail_percentile": tail_pct,
              "registrations": len(res["registrations_s"]),
              "failed_frac": res["failed"] / res["attempted"]}
    return metrics, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (logs, spans) after the run")
    a = ap.parse_args()

    refuse_polluted_env()
    root = os.getcwd()
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    classes = build(root, out)

    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    before = host_window()
    code = run_jvm(root, classes, ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--out", run_dir], run_dir)
    after = host_window()
    result_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; "
             f"log in {run_dir}")
    with open(result_file) as fh:
        res = json.load(fh)
    for e in res["errors"]:
        print(f"perfbench: FAILED {e[:2000]}", file=sys.stderr)

    host = {"load1_start": before["load1"], "load1_end": after["load1"],
            "other_jvms": max(before["other_jvms"], after["other_jvms"]),
            "calib_ms_start": res["calib_ms"][0], "calib_ms_end": res["calib_ms"][1]}
    if a.trace:
        summary = trace_summary.summarize(os.path.join(run_dir, "trace.jsonl"), a.workload)
        metrics = trace_summary.per_layer_metrics(summary, host)
        print(trace_summary.render(summary, a.workload))
    else:
        metrics, detail = end_to_end(res)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "host": host,
                          "setups_s": res["setups_s"], **detail}))
    if a.keep:
        print(f"perfbench: run directory kept at {run_dir}", file=sys.stderr)
    else:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
