"""Feature-store benchmark: one command per workload, run from the root of a
checkout.

    python3 perfbench/run.py --workload serving|ingest|training \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (see ``build.py``), then
runs one JVM with Spark ``local[nproc]`` and one closed-loop caller. Every
lake root, training-dataset output and Spark temp file lives under one
scratch base, ``.bench_build/scratch/<run>``, which is deleted after the
run. stdout carries a detail line (workload-named figures, sample counts,
the seed and the scratch base) and, last, the result object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 when
every correctness check passed, 1 when one failed, and 2 or more when the
benchmark could not build or run.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serving", "ingest", "training")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    run = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out = os.path.join(root, ".bench_build", "out")
    scratch = os.path.join(root, ".bench_build", "scratch", run)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(out, exist_ok=True)
    os.makedirs(tmp)
    result_file = os.path.join(out, f"result-{run}.json")
    spans_file = os.path.join(out, f"spans-{args.workload}-s{args.seed}.jsonl")
    log_file = os.path.join(out, f"jvm-{args.workload}-s{args.seed}-t{args.trace}.log")

    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dderby.system.home={scratch}",
        f"-Dderby.stream.error.file={os.path.join(scratch, 'derby.log')}",
        "-Duser.timezone=UTC",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(root), "*")]),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--base", scratch, "--result", result_file, "--spans", spans_file,
    ]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_SPARK_CONF", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS", "SPARK_CONF_DIR")}

    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
            return 3
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    if proc.returncode != 0 or not os.path.exists(result_file):
        with open(log_file) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
        return 4
    with open(result_file) as f:
        result = json.load(f)
    os.remove(result_file)
    sys.stdout.write(stdout)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
