#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py), runs one workload in a fresh JVM
(graftbench.Main), and prints the run context on one line and, as the last
line, one JSON object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. Everything the run writes goes under
.bench_build/ in the repository root. See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

HEAP = "3g"
# fixed young generation: G1 otherwise resizes it from pause times, which
# made the peak RSS follow the load of the machine
YOUNG = "1g"
# C1 only, at a tenth of the usual compile thresholds, and compiled code
# never flushed: with C2 the JVM compiled for minutes (60 CPU-s over a
# run's first six passes, still 4 CPU-s in the sixth), so each pass was
# faster than the last and a run's figure depended on how far that had
# got. With C1 nearly all compiling is done in the warm-up pass.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
       "-XX:-UseCodeCacheFlushing", "-XX:ReservedCodeCacheSize=512m"]
# the JVM must end well inside the 180 s a run may take
JVM_TIMEOUT_S = 165
JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    classes = build.build(root)
    work = os.path.join(root, ".bench_build", "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)  # the run's own scratch, cleaned at start
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    opens = [x for p in JDK17_ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout;
    # -XX:-UseDynamicNumberOfCompilerThreads: compiler threads never end, so
    # the context's jit_cpu_s keeps all of their time
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
           *JIT, "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={work}/tmp", *opens,
           "-cp", classes + ":" + os.path.join(build.spark_jars(), "*"),
           "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out,
           "--references", os.path.join(HERE, "references.json")]
    t0 = time.time()
    with open(log, "w") as lf:
        # SPARK_LOCAL_DIRS would override the run's own spark.local.dir
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        how = "timed out" if code is None else f"exited with code {code}"
        sys.exit(f"benchmark JVM {how} after {time.time() - t0:.1f} s; log: {log}")
    with open(out) as f:
        res = json.load(f)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        sys.exit(f"benchmark JVM did not report {missing}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
    res["context"]["jvm_exit_s"] = round(time.time() - t0, 3)
    print("context " + json.dumps(res["context"]))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
