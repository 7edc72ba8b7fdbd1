"""graft benchmark front end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark's JVM side (see build.py), runs one
workload in a fresh JVM on local[2], checks every operation's output against
the committed expected values, and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, which are
also written with every operation's timing to
perfbench/.work/trace/<workload>-seed<n>.json. Workloads, metrics and the
steadiness record are described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build
import metrics

WORKLOADS = ["catalog", "lake_etl"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170


def jvm(args, work, log_path, timeout=JVM_TIMEOUT_S):
    """Runs graftbench.Main with `args`; returns its exit code (-1 on timeout)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>.
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graftbench.Main", "--bench", build.BENCH] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        build.build()
    except build.BuildError as e:
        sys.exit("build failed: %s" % e)
    expected = metrics.load_expected()

    # Shared across runs: the program's index cache (target/graft_idx) and
    # Spark warehouse land in the JVM's working directory.
    work = os.path.join(build.BENCH, ".work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "raw.json")
    log = os.path.join(run_dir, "jvm.log")
    code = jvm(["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", run_dir, "--out", out], work, log)
    if code != 0 or not os.path.isfile(out):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        sys.exit("benchmark JVM failed (exit %d)" % code)
    raw = json.load(open(out))
    try:
        result = metrics.aggregate(raw, a.trace, expected)
    except ValueError as e:
        sys.exit("no result: %s" % e)
    for o in raw["ops"]:
        if not metrics.check_op(a.seed, o, expected):
            sys.stderr.write("FAILED %s: %s %s\n" % (o["name"], o.get("error"), o["check"]))
    if a.trace:
        trace_dir = os.path.join(work, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed)), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "setup_s": raw["setup_s"],
                       "metrics": result["metrics"], "ops": raw["ops"]}, f, indent=1)
    else:
        walls = [o["wall_s"] for o in raw["ops"]
                 if not (o["traced"] or o["warmup"] or o.get("error"))]
        sys.stderr.write("samples=%d tail_percentile=%.1f\n" % (
            len(walls), metrics.tail(walls)[1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
