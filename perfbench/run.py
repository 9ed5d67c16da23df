#!/usr/bin/env python3
"""Benchmark of the fuel pipeline: MQTT -> Structured Streaming ->
parquet warehouse -> dashboard.

    python3 perfbench/run.py --workload <live_trickle|dash_refresh|all> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and
the harness from source with sbt (perfbench/build.sbt); each run then
starts one fresh JVM for the workload. With --trace 0 the last line of
stdout is a JSON object with the end-to-end metrics; with --trace 1 it
holds the per-layer metrics of a traced run, and the spans are written
to perfbench/work/<workload>/spans.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("live_trickle", "dash_refresh")
END_TO_END = [
    ("setup_s", "s"),
    ("fresh_wh_p50_ms", "ms"), ("fresh_wh_p90_ms", "ms"),
    ("fresh_dash_p50_ms", "ms"), ("fresh_dash_p90_ms", "ms"),
]
# Every run ends within this many seconds of its start (after the build).
RUN_BUDGET_S = 170
BUILD_TIMEOUT_S = 840
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "source-stamp.txt")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program's sources with the harness, once per source state."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    print("[perfbench] building with sbt ...", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "-batch", "compile", "writeClasspath"], cwd=HERE,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        die("build failed", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_jvm(workload, seed, seconds, trace, deadline):
    """One workload in a fresh JVM; returns its raw record."""
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    # Flush the previous run's deletes and writes now, so the journal
    # and discard work they cause does not land inside this run.
    os.sync()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "raw.json")
    # Every file the JVM writes stays under the run's scratch directory.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work,
            "--golden", os.path.join(ROOT, "src", "test", "resources", "fuel"), "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{workload} did not finish within the run's {RUN_BUDGET_S} s (log: {log_path})", 4)
    print(f"[perfbench] {workload} JVM ran {RUN_BUDGET_S - (deadline - time.monotonic()):.1f} s into the run budget")
    if rc != 0 or not os.path.exists(out):
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-4000:])
        die(f"{workload} JVM exited with {rc}", 4)
    with open(out) as f:
        raw = json.load(f)
    if "setup_reps_s" not in raw:
        report_failures(raw)
        die(f"{workload} threw before it could be measured", 4)
    return raw


def report_failures(raw):
    for note in raw["failures"]:
        print(f"[perfbench] check failed: {note}")
    share = raw["failed"] / max(raw["attempted"], 1)
    print(f"[perfbench] failed_share {share:.6f} ({raw['failed']} of {raw['attempted']} operations)")


def report_window(raw, bound):
    """Flag a run whose calibration probes moved by more than the bound."""
    for i, name in enumerate(("cpu", "fs_rename")):
        first, last = raw["calib_first"][i], raw["calib_last"][i]
        drift = (last - first) / first if first else 0.0
        flag = "  FLAGGED: the machine changed during the run" if abs(drift) > bound else ""
        print(f"[perfbench] window {name} probe first {first:.2f} ms last {last:.2f} ms ({drift:+.1%}){flag}")


def report(workload, raw, bound):
    """Print checks, window probes and end-to-end metrics; return the metrics."""
    e2e = metrics.end_to_end(raw)
    m = metrics.summary(raw, e2e)
    report_failures(raw)
    report_window(raw, bound)
    for fig in ("wh", "dash"):
        ticks = e2e[f"{fig}_ticks"]
        q = metrics.highest_reportable(ticks)
        print(f"[perfbench] fresh_{fig}: {len(e2e[f'fresh_{fig}'])} samples from {ticks} independent ticks; "
              + (f"highest percentile with ten ticks beyond: p{q:g}" if q else
                 "fewer than ten ticks lie beyond p50, so p50 and p90 interpolate between single ticks"))
    for name, unit in END_TO_END:
        print(f"[perfbench] {name} {m[name]:.3f} {unit}")
    return m


def run_workload(workload, seed, seconds, trace, spec, bound):
    """One workload; prints its report and returns its result object."""
    deadline = time.monotonic() + RUN_BUDGET_S
    plain = run_jvm(workload, seed, seconds, False, deadline)
    untraced = report(workload, plain, bound)
    if not trace:
        return {"correct": plain["failed"] == 0, "attempted": plain["attempted"], "failed": plain["failed"],
                "metrics": {k: {"value": untraced[k], "unit": u} for k, u in END_TO_END}}

    # Tracing overhead: a traced JVM against the untraced one just run
    # with the same seed and window.
    raw = run_jvm(workload, seed, seconds, True, deadline)
    traced = report(workload, raw, bound)
    attempted, failed = raw["attempted"] + plain["attempted"], raw["failed"] + plain["failed"]
    e2e = metrics.end_to_end(raw)
    layer = metrics.per_layer(raw, e2e)
    for k in ("fresh_wh_p50_ms", "fresh_dash_p50_ms"):
        layer[f"trace.overhead_{k}"] = traced[k] - untraced[k]
    spans_path = os.path.join(WORK, workload, "spans.json")
    with open(spans_path, "w") as f:
        json.dump({"spans": raw["spans"], "jobs": raw["jobs"],
                   "event_spans": metrics.event_spans(raw, e2e), "per_layer": layer}, f)
    print(f"[perfbench] spans -> {spans_path}")
    for k, v in layer.items():
        print(f"[perfbench] {k} {v}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala) are not next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bound = min(m["bound"] for m in spec["end_to_end"] if m["name"] != "setup_s")
    build()
    if a.workload != "all":
        print(json.dumps(run_workload(a.workload, a.seed, a.seconds, a.trace, spec, bound)))
        return
    # Every workload in turn; metrics are prefixed with the workload's name.
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        r = run_workload(w, a.seed, a.seconds, a.trace, spec, bound)
        total["correct"] &= r["correct"]
        total["attempted"] += r["attempted"]
        total["failed"] += r["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(total))


if __name__ == "__main__":
    main()
