#!/usr/bin/env python3
"""Layered-warehouse benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
engine (src/main/scala) and the harness (perfbench/src) with the Scala
compiler shipped in Spark's jars; later runs reuse the build while the
sources are unchanged. The JVM writes the run's raw samples to an
artifact under .bench_run/artifacts/; this script turns them into the
metrics and prints, as the last line of stdout, one JSON object with the
keys correct, attempted, failed and metrics. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The exit code
is nonzero when the build, the run or an output check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME, else that of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    die("no Spark installation with a Scala compiler (set SPARK_HOME)")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        die("no engine sources under src/main/scala; run from the repository root")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files + harness


def build(jars):
    """Compiles engine + harness into <build>/classes unless up to date."""
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = os.path.join(build_dir, "classes")
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    res = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                          "-nowarn", "-d", classes, "-classpath", cp] + files,
                         stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        die("compilation failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    print(f"perfbench: built {len(files)} files in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def run_jvm(classes, jars, args, run_dir, artifact):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", f"-Dderby.system.home={tmp}",
            "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", os.path.join(run_dir, "data"), "--out", artifact]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(SPEC) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {args.workload}")
    jars = spark_jars()
    classes = build(jars)

    stamp = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.abspath(os.path.join(".bench_run", stamp))
    art_dir = os.path.abspath(os.path.join(".bench_run", "artifacts"))
    os.makedirs(art_dir, exist_ok=True)
    os.makedirs(run_dir)
    artifact = os.path.join(art_dir, stamp + ".json")
    try:
        code = run_jvm(classes, jars, args, run_dir, artifact)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.exists(artifact):
        die(f"benchmark JVM exited with {code}")
    with open(artifact) as fh:
        raw = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    values = stats.metrics(raw, names)
    raw["metrics"] = values
    with open(artifact, "w") as fh:
        json.dump(raw, fh)
    for e in raw["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    result = {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and raw["attempted"] > 0 else 1)


if __name__ == "__main__":
    main()
