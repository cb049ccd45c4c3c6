"""Linkage benchmark: times graft.RunPipeline end to end, or layer by layer.

    python3 linkbench/run.py --workload link-boilerplate --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the program from source (see
build.py), then starts one JVM with a local[N] Spark session, N =
min(4, cores). The JVM generates the workload's inputs from the seed
(cached under .bench_build/inputs), warms up, and times RunPipeline.run
passes for --seconds, checking every pass's outputs. With --trace 1 it
instead alternates an untraced pass with a traced one and reports
per-layer metrics. setup_s is the one cold set-up of that JVM: from its
launch until the session is built and has run its first job.

The last line of standard output is one JSON object: correct,
attempted, failed and metrics. The full result documents are written
to .bench_build/results.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("link-boilerplate", "link-clk")
DEADLINE_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classpath, work):
    cores = min(4, os.cpu_count() or 1)
    cmd = ["java"]
    for module in ADD_OPENS:
        cmd += ["--add-opens", module + "=ALL-UNNAMED"]
    return cmd + [
        "-Xmx3g",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.master=local[%d]" % cores,
        "-Dspark.ui.enabled=false",
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", classpath, "linkbench.LinkBench",
    ]


def run_jvm(cmd, log_path, deadline):
    """Run the harness; return its stdout lines. Exits on failure."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + ["--launch-ns", str(time.time_ns())],
                                stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("linkbench: run exceeded %d s; log in %s" % (DEADLINE_S, log_path))
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit("linkbench: harness exited with %d; log in %s" % (proc.returncode, log_path))
    return out.splitlines()


def tagged(lines, tag):
    found = [line[len(tag) + 1:] for line in lines if line.startswith(tag + " ")]
    if not found:
        raise SystemExit("linkbench: harness printed no %s line" % tag)
    return found[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate-only", action="store_true",
                    help="write the seed's inputs (if missing) and stop")
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    root = os.getcwd()
    classpath = build.build(root)
    work = os.path.join(root, build.BUILD_DIR)
    for sub in ("tmp", "spark-local", "logs", "results"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    log_path = os.path.join(work, "logs", "%s-s%d-t%d.log" % (a.workload, a.seed, a.trace))
    cmd = jvm_command(classpath, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", repr(a.seconds),
        "--trace", str(a.trace), "--work", work, "--generate-only", str(int(a.generate_only))]
    lines = run_jvm(cmd, log_path, deadline)
    if a.generate_only:
        print(tagged(lines, "LINKBENCH_INPUTS"))
        return
    result = json.loads(tagged(lines, "LINKBENCH_RESULT"))
    if a.trace == 1:
        print("funnel:", " -> ".join("%s %d" % kv for kv in result["funnel"].items()))
        print("layers cover %.1f%% of the traced pass" % (100 * result["coverage"]))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
