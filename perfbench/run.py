"""Benchmark entry point.

    python3 perfbench/run.py --workload <resources|table|images|curation> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the library and the benchmark from source (perfbench/build.py), then
runs one workload in one JVM on local[nproc]. Inputs are generated from the
seed under a work directory inside the checkout's build directory and removed
afterwards. The last line of stdout is the JSON result; the metric lines
before it are prefixed with '#'. `--selftest` runs every workload at a tiny
size and checks the generators' expected outputs.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# JVM options the library needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")

    classes, jars = build.build()
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-t{a.trace}"
    work = os.path.join(build.build_dir(), "work", f"{name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = ["java", f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "perfbench", "log4j2.properties")]
    for o in ADD_OPENS:
        java += ["--add-opens", f"{o}=ALL-UNNAMED"]
    java += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")])]
    if a.selftest:
        cmd = java + ["perfbench.SelfCheck", "--work", work]
    else:
        trace_out = os.path.join(build.build_dir(), "traces", f"{a.workload}-seed{a.seed}.json")
        cmd = java + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
                      "--trace-out", trace_out]
    try:
        # Spark prefers this variable to spark.local.dir; keep scratch in the work dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        code = subprocess.run(cmd, cwd=work, env=env, timeout=TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"run: timed out after {TIMEOUT_S} s", file=sys.stderr)
        code = 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
