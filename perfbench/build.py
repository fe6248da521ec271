"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark
harness (`perfbench/src`) with scalac, straight from source, into one
class directory. The Spark jars are the ones the repo's own `build.sbt`
names as its unmanaged base. A stamp over every source file skips the
compile when nothing changed since the last build.

Usage: python3 perfbench/build.py   (from the repo root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
BENCH_DIR = os.path.join(ROOT, "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")]
RESOURCE_DIR = os.path.join(ROOT, "src", "main", "resources")
BUILD_SBT = os.path.join(ROOT, "build.sbt")


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def spark_jars_dir():
    """The jar directory `build.sbt` puts on the classpath (`unmanagedBase`)."""
    if not os.path.isfile(BUILD_SBT):
        raise SystemExit("build: build.sbt not found; run from a full checkout")
    with open(BUILD_SBT) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build: no unmanagedBase jar directory in build.sbt")
    return m.group(1)


def classpath_jars():
    d = spark_jars_dir()
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def _sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory missing: {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files + [BUILD_SBT]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath entries."""
    files = _sources()
    jars = classpath_jars()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    stamp = _stamp(files)
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return [classes] + jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=out, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    if os.path.isdir(RESOURCE_DIR):
        shutil.copytree(RESOURCE_DIR, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return [classes] + jars


if __name__ == "__main__":
    build()
