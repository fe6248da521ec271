"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload cdx_index --seed 1 --seconds 10 --trace 0

Run from the repo root. Builds the engine and harness from source
(`perfbench/build.py`), runs the workload in one JVM against one Spark
application at local[nproc], prints every metric by name with its unit,
and prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1). A failed output check makes the exit
code 1. Scratch data lives under the build directory and is removed at
the end; the run record (and with --trace 1 the span file) is kept in
`<build dir>/results/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("cdx_index", "crawl_waves", "dedup_rewrite")
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs the module opens spark-submit adds
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"
# units of the run record's notes: the per-workload names of what the
# gated metrics measure, and the crawl's compaction wave
NOTE_UNITS = {"index_mb_per_s": "MB/s", "wave_p50_s": "s", "wave_compact_s": "s",
              "crawl_urls_per_s": "urls/s", "dedup_docs_per_s": "docs/s"}


def note_unit(name):
    base = name.removeprefix("traced.")
    return "ratio" if base.startswith("dedup_ratio.") else NOTE_UNITS.get(base, "")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return spec, units


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def run_jvm(classpath, args, work):
    """Run the harness JVM; return its exit code (None on timeout)."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_BENCH", "GRAFT_AQE", "GRAFT_DEBUG", "SPARK_GRAFT_CPUS")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed heap keeps GC sizing decisions out of the timings; few
    # malloc arenas keep native memory from depending on thread scheduling
    env["MALLOC_ARENA_MAX"] = "2"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.level=WARN"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM's stdout is log noise; the result comes back through a file
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec, units = load_spec()
    t0 = time.time()
    classpath = build.build()
    build_s = time.time() - t0

    out_dir = build.build_dir()
    results = os.path.join(out_dir, "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(out_dir, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    result_file = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json")
    try:
        code = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--work", work, "--result", result_file], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(result_file):
        print(f"perfbench: harness JVM failed (exit {code})", file=sys.stderr)
        sys.exit(2)
    with open(result_file) as f:
        rec = json.load(f)
    rec["context"]["git_commit"] = git_commit()
    rec["context"]["build_s"] = build_s
    with open(result_file, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)

    e2e, layer = rec["end_to_end"], rec["per_layer"]
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    chosen = layer if a.trace else e2e
    missing = [n for n in want if n not in chosen]
    if missing:
        print(f"perfbench: harness did not report {missing}", file=sys.stderr)
        sys.exit(2)

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    print("context " + json.dumps(rec["context"], sort_keys=True))
    print("inputs " + json.dumps(rec["inputs"], sort_keys=True))
    for name, v in e2e.items():
        print(f"{name} {v} {units.get(name, '')}")
    ratio = rec["failed"] / rec["attempted"]
    print(f"failed_ops_ratio {ratio} ratio ({rec['failed']} of {rec['attempted']} operations)")
    print(f"peak_rss_mb {rec['context']['peak_rss_mb']} MB")
    for name, v in rec["notes"].items():
        print(f"note {name} {v} {note_unit(name)}".rstrip())
    for name, c in rec["checks"].items():
        print(f"check {name} passed={c['passed']} failed={c['failed']}")
    if a.trace:
        for name, v in layer.items():
            print(f"layer {name} {v} {units.get(name, '')}")
        print("trace " + result_file + ".trace.jsonl")
    metrics = {n: {"value": chosen[n], "unit": units[n]} for n in want}
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
