#!/usr/bin/env python3
"""ETL benchmark: the music pipeline and the snapshot commit path, end to
end and per layer.

    python3 etlbench/run.py --workload pipeline_hourly --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the engine (src/main/scala) and the
benchmark's own Scala sources with the Scala compiler that ships with Spark
(no sbt), generates the workload's inputs from the seed, launches one JVM
for the measurement, checks the outputs against DuckDB, and prints one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Notes, workloads and the baseline are in NOTES.md beside this file.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("pipeline_hourly", "snapshot_upsert")
SETUP_LAUNCHES = 2          # untraced runs: setup_s is the median over this many launches
HEAP = "3g"
SCALA_JARS = ("scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
              "scala-reflect-2.13.17.jar")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# JVM flags of tools/run.sh: fixed-size heap with a bounded young generation
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UnlockExperimentalVMOptions",
             "-XX:G1MaxNewSizePercent=10", "-XX:MaxGCPauseMillis=100",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


class BenchError(Exception):
    pass


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def build(root, build_dir):
    """Compile src/main/scala plus etlbench/src into build_dir/classes,
    unless the sources are unchanged since the last build."""
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BenchError("no engine sources under src/main/scala: run from the repository root")
    sources = engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    jars = spark_jars(root)
    digest = hashlib.sha256()
    for p in sources:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler_cp = os.pathsep.join(os.path.join(jars, j) for j in SCALA_JARS)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", os.path.join(jars, "*")] + sources
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise BenchError("build failed:\n" + p.stdout[-4000:] + p.stderr[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


def launch(classes, jars, args, work):
    """Run etlbench.Main with every scratch file under `work`; return
    (seconds from launch to READY, exit code)."""
    scratch = [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
               f"-Dspark.sql.warehouse.dir={work}/warehouse"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + ADD_OPENS + JVM_FLAGS + scratch
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "etlbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(work, "jvm.log"), "ab") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log)
        ready = None
        try:
            for line in proc.stdout:
                if ready is None and line.strip() == b"READY":
                    ready = time.perf_counter() - t0
        except BaseException:
            proc.kill()
            raise
        finally:
            proc.stdout.close()
            code = proc.wait()
    return ready, code


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def du(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def run(workload, seed, seconds, trace, root):
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                             "etlbench")
    classes, jars = build(root, build_dir)
    work = os.path.join(build_dir, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(out)
    log = os.path.join(work, "jvm.log")
    ok = False
    try:
        inputs = gen.generate(workload, seed, data)
        os.sync()  # the inputs' writeback stays out of the timed region
        setup = []
        for _ in range(0 if trace else SETUP_LAUNCHES - 1):
            ready, code = launch(classes, jars, {"workload": "setup"}, work)
            if ready is None or code != 0:
                raise BenchError("session launch failed:\n" + tail(log))
            setup.append(ready)
        result = os.path.join(work, "result.json")
        ready, code = launch(classes, jars, {
            "workload": workload, "data": data, "out": out, "seconds": seconds,
            "trace": trace, "result": result}, work)
        if ready is None or code != 0 or not os.path.exists(result):
            raise BenchError(f"{workload} run failed (exit {code}):\n" + tail(log))
        setup.append(ready)
        with open(result) as f:
            raw = json.load(f)

        problems = list(raw["errors"])
        checks = 0
        if workload == "snapshot_upsert":
            checks += 1
            problems += check.check_snapshot(inputs, raw["batches_applied"], out)
            input_bytes, written = raw["source_bytes"], raw["bytes_written"]
            lookup_keys = raw["lookup_keys"]
        else:
            sink = os.path.join(out, "untraced") if trace else out
            checks += 1
            problems += check.check_pipeline(inputs, sink)
            if trace:
                checks += 1
                problems += check.check_same_bytes(sink, os.path.join(out, "traced"))
            input_bytes = sum(os.path.getsize(p) for p in
                              [inputs["users"], inputs["songs"]] + glob.glob(inputs["streams"]))
            written = du(os.path.join(sink, "genre_kpis")) + du(os.path.join(sink, "hourly_kpis"))
            lookup_keys = 1

        if trace:
            values = metrics.per_layer(raw, lookup_keys)
            units = dict(metrics.PER_LAYER)
        else:
            values = metrics.end_to_end(raw, setup, input_bytes, written)
            units = dict(metrics.END_TO_END)
        for p in problems:
            print(f"problem: {p}", file=sys.stderr)
        ok = not problems
        return {
            "correct": not problems,
            "attempted": raw["attempted"] + checks,
            "failed": len(problems),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }, raw
    finally:
        # a failed run keeps its log and outputs for inspection
        shutil.rmtree(work if ok else data, ignore_errors=True)


def summary(raw):
    """Human-readable sample counts and medians, for stderr."""
    lines = []
    for key in ("settle_s", "run_s", "cycle_s", "traced_s", "untraced_s", "commit_ms",
                "read_ms", "lookup_ms", "replicate_ms"):
        xs = [float(x) for x in raw.get(key, [])]
        if xs:
            lines.append(f"{key}: n={len(xs)} median={metrics.median(xs):.4g}")
    return "\n".join(lines)


def main():
    # a terminated launcher unwinds, so its JVM is killed and reaped (launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="ETL benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        result, raw = run(a.workload, a.seed, a.seconds, a.trace, root)
    except BenchError as e:
        print(f"etlbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(summary(raw), file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
