"""Build file of the benchmark package.

Compiles the graft library sources (src/main/scala) together with the
benchmark's own sources (perfbench/src, perfbench/test) into one class
directory, with the Scala compiler that ships in the Spark distribution the
library builds against. The jar directory is $SPARK_HOME/jars, or else the
`unmanagedBase` named in the repository's build.sbt.

    python3 perfbench/build.py        # prints the class directory

The output lives under $CARGO_TARGET_DIR (default .bench_build) in the
checkout, keyed by a hash of every source file, so an unchanged tree is not
rebuilt.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/src", "perfbench/test"]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources():
    lib = os.path.join(ROOT, SOURCE_DIRS[0])
    if not os.path.isdir(lib):
        raise SystemExit(f"build: library sources {SOURCE_DIRS[0]} not found")
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return (class dir, jar dir)."""
    jars = jar_dir()
    srcs = sources()
    digest = hashlib.sha256(jars.encode())
    for path in srcs:
        digest.update(path[len(ROOT):].encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(build_dir(), "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-{v}.jar")
        for m in ("compiler", "library", "reflect")
        for v in [scala_version(jars)])
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + argfile]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("build: compilation failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, jars


def scala_version(jars):
    for f in os.listdir(jars):
        m = re.fullmatch(r"scala-library-(.+)\.jar", f)
        if m:
            return m.group(1)
    raise SystemExit("build: no scala-library jar in " + jars)


if __name__ == "__main__":
    print(build()[0])
