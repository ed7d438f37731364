#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload kql_interactive --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), launches one JVM for the run, checks every output inside it,
and prints a JSON object as the last line of stdout:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Exits non-zero, without a result line, if the build or the run fails.
See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

HERE = Path(__file__).resolve().parent
CORPUS = HERE / "data" / "sf0.01"
WORKLOADS = ("kql_interactive", "llm_pipeline", "cdc_live")
JVM_TIMEOUT_S = 165
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
    "-Dfile.encoding=UTF-8", "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def jvm(classes, work, args, timeout):
    """Run PerfBench with `args`; stdout+stderr go to work/jvm.log.
    The JVM gets its own process group, killed on timeout or on the way
    out of an exception. Returns its exit code, None on timeout."""
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.PerfBench", *args]
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    rc = None
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    return rc


def tail(path, n=40):
    try:
        return "".join(open(path, errors="replace").readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the build's compiler and the
    # run's JVM are killed and the work directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1
    queries = HERE / "queries" / f"{a.workload}.txt"
    if a.workload != "cdc_live" and not (queries.exists() and CORPUS.is_dir()):
        print(f"perfbench: missing {queries} or {CORPUS}", file=sys.stderr)
        return 1

    work = build.BUILD_DIR / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        raw_path = work / "raw.json"
        rc = jvm(classes, work, ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                 str(CORPUS), str(work), str(queries), str(raw_path)], JVM_TIMEOUT_S)
        if rc != 0 or not raw_path.exists():
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: run {why}\n{tail(work / 'jvm.log')}", file=sys.stderr)
            return 1
        raw = json.loads(raw_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, notes, unseen = stats.end_to_end(a.workload, raw)
    failed = int(raw["failed"]) + unseen
    attempted = int(raw["attempted"])
    for err in raw["errors"][:20]:
        print(f"perfbench: error: {err}", file=sys.stderr)
    if unseen:
        print(f"perfbench: error: {unseen} events never became visible", file=sys.stderr)
    if a.trace:
        values = stats.per_layer(a.workload, raw, e2e)
        units = stats.PER_LAYER_UNITS
    else:
        values, units = e2e, stats.END_TO_END_UNITS
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"window={raw['window_s']:.2f}s ops={int(raw['completed'])} "
          f"error_rate={failed}/{attempted} " + " ".join(f"{k}={v}" for k, v in notes.items()))
    for name, ms in raw.get("setup_ops", []):
        print(f"#   set-up {name} {ms:.0f} ms")
    per_query = {}
    for name, ms in zip(raw.get("op_names", []), raw.get("op_ms", [])):
        per_query.setdefault(name, []).append(ms)
    for name, ms in sorted(per_query.items()):
        print(f"#   timed {name} " + " ".join(f"{x:.0f}" for x in ms) + " ms")
    for k in units:
        print(f"#   {k:30s} {values[k]:.6g} {units[k]}")
    out = {"correct": failed == 0 and not raw["errors"], "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
