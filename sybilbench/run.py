#!/usr/bin/env python3
"""Benchmark of the sybil path: JSON ingest -> digest -> query -> `-json`.

    python3 sybilbench/run.py --workload scan_queries --seed 1 --seconds 10 --trace 0

Builds the program from the checkout (see build.py), then runs one workload
in one JVM: Spark local[min(3, nproc)], a fixed 3 GiB heap and one client
thread. The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with --trace 0,
the per-layer metrics (computed by summarize.py from the run's trace) with
--trace 1. The exit code is 0 only when every check passed.

Extra flags: --smoke 1 runs tiny inputs (every check still runs);
--keep-trace PATH copies the trace of a --trace 1 run to PATH.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import summarize  # noqa: E402

WORKLOADS = ("scan_queries", "bulk_load")
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (as in the program's build.sbt)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 175  # a run ends within this many seconds after its build


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-trace", default="")
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[sybilbench] build failed: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()

    work = build.OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace = work / "trace.json"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", *ADD_OPENS,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join(map(str, classpath)), "sybilbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--work", str(work), "--trace", str(trace) if a.trace else "",
            "--smoke", str(a.smoke)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)  # the program's dev override stays off
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                           cwd=work, text=True,
                           timeout=max(30.0, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        print("[sybilbench] run timed out", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 3
    try:
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        result = json.loads(lines[-1]) if lines else None
        if result is None or r.returncode not in (0, 1):
            print(f"[sybilbench] run failed (exit {r.returncode})", file=sys.stderr)
            return r.returncode or 4
        if a.trace:
            doc = json.loads(trace.read_text())
            if a.keep_trace:
                shutil.copyfile(trace, a.keep_trace)
            layers, self_times = summarize.summarize(doc)
            summarize.print_table(layers, self_times, sys.stderr)
            result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            for k, (v, u) in layers.items():
                print(f"[sybilbench] metric {k} {v} {u} {summarize.METRICS[k][1]}", file=sys.stderr)
        print(json.dumps(result))
        return r.returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
