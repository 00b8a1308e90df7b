#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tail_sf0.01 --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (the build lands in `target/`, `perfbench/target/`
and `.bench_build/`); later runs reuse that build while the sources are
unchanged. Each run is one fresh JVM (`perfbench.Main`) at local[N], N = the
cores this process may use. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the lines before it are a
human-readable report and the run's environment. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones of a traced pass
(plus the tracing overhead against the untraced passes of the same run).
See perfbench/BENCHMARK.md.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

# the Walmart corpus's shape; the store count comes with the run's result
DEPTS, WEEKS, TEST_WEEKS = 81, 115, 10

WORKLOADS = {
    "walmart_dag": {"kind": "walmart"},
    "tail_sf0.01": {"kind": "queries", "sf": "0.01",
                    "ops": "workloads/tail_sf0.01.txt"},
}
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", "project/build.properties"):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def fingerprint():
    """Content hash of every source the build reads."""
    h = hashlib.sha256()
    for path in sorted(source_files()):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """The JVM classpath, building with sbt when the sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the engine's sources (build.sbt, src/main/scala) are not beside "
            "the benchmark; run from a full checkout of the repository")
    out = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "classpath.json")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = fingerprint()
        if os.path.isfile(stamp_file):
            with open(stamp_file) as fh:
                cached = json.load(fh)
            if cached.get("fingerprint") == stamp:
                return cached["classpath"]
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log_path = os.path.join(out, "build.log")
        with open(log_path, "w") as log:
            try:
                proc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "export Runtime/fullClasspath"],
                    cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                    text=True, timeout=BUILD_TIMEOUT_S)
            except (OSError, subprocess.TimeoutExpired) as e:
                die(f"build failed: {e}")
        lines = [l for l in proc.stdout.splitlines()
                 if os.path.join("perfbench", "target") in l and ":" in l]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stdout[-3000:])
            die(f"build failed (exit {proc.returncode}); see {log_path}")
        classpath = lines[-1].strip()
        with open(stamp_file, "w") as fh:
            json.dump({"fingerprint": stamp, "classpath": classpath}, fh)
        return classpath


def cpu_jiffies():
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat; empty where unavailable."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_jvm(classpath, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
              "perfbench.Main"] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"the benchmark JVM failed ({code})", code=1)


def query_checks(result, sf):
    """(attempted, failed, problems) of every op against the committed rows
    and digest of its output."""
    with open(os.path.join(HERE, "expected", f"sf{sf}.json")) as fh:
        expected = json.load(fh)
    attempted, problems = 0, []
    for p in result["passes"]:
        for op in p["ops"]:
            attempted += 1
            want = expected.get(op["name"])
            if not op["ok"]:
                problems.append(f"{op['name']}: {op['error']}")
            elif want is None:
                problems.append(f"{op['name']}: no expected output committed")
            elif (op["rows"], op["digest"]) != (want["rows"], want["digest"]):
                problems.append(f"{op['name']}: rows/digest {op['rows']}/{op['digest']}"
                                f" != expected {want['rows']}/{want['digest']}")
    return attempted, len(problems), problems


def walmart_checks(result):
    stores = result["stores"]
    train, test = stores * DEPTS * WEEKS, stores * DEPTS * TEST_WEEKS
    attempted, failed, problems = 0, 0, []
    for p in result["passes"]:
        c = p["check"] or {}
        r2 = c.get("r2")
        owned = {
            "etl": [("train_rows", c.get("train_rows") == train),
                    ("test_rows", c.get("test_rows") == test)],
            "eda": [("eda_tables", c.get("eda_tables") == 6)],
            "model": [("test_predictions", c.get("test_predictions") == test),
                      ("validation_predictions",
                       0.15 * train <= (c.get("validation_predictions") or 0) <= 0.25 * train),
                      ("r2 finite", isinstance(r2, (int, float)) and math.isfinite(r2))],
        }
        for op in p["ops"]:
            attempted += 1
            bad = [] if op["ok"] else [op["error"]]
            bad += [f"{name} wrong ({c})" for name, ok in owned[op["name"]] if not ok]
            if bad:
                failed += 1
                problems.append(f"{op['name']}: {'; '.join(map(str, bad))}")
    return attempted, failed, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = WORKLOADS[a.workload]
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S

    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    cpu_start = cpu_jiffies()
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{run_id}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cache = os.path.join(state, "corpus", fingerprint()[:16])
    args = ["--kind", spec["kind"], "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores),
            "--work", work, "--out", out]
    if spec["kind"] == "queries":
        args += ["--sf", spec["sf"], "--ops", os.path.join(HERE, spec["ops"]),
                 "--corpus-cache", cache]
    try:
        run_jvm(classpath, args, work, deadline)
        with open(out) as fh:
            result = json.load(fh)
    finally:
        logs = os.path.join(state, "logs")
        os.makedirs(logs, exist_ok=True)
        if os.path.isfile(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(logs, f"{run_id}.log"))
    load_end = os.getloadavg()[0]
    cpu_end = cpu_jiffies()
    busy = [b - a for a, b in zip(cpu_start, cpu_end)]

    if spec["kind"] == "walmart":
        attempted, failed, problems = walmart_checks(result)
    else:
        attempted, failed, problems = query_checks(result, spec["sf"])
    metrics = benchlib.per_layer(result) if a.trace else benchlib.end_to_end(result)
    env = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": a.trace, "nproc": os.cpu_count(), "cores": cores,
           "local_n": result["cores"], "xmx": HEAP,
           "max_heap_mb": result["max_heap_mb"],
           "passes": len(result["passes"]), "git_commit": git_commit(),
           "source_sha256": fingerprint(), "spark": result["spark_version"],
           "load1_start": load_start, "load1_end": load_end,
           "steal_frac": busy[7] / sum(busy) if len(busy) > 7 and sum(busy) else None,
           "contended": load_start > cores / 2}
    record = {"env": env, "setup": result["setup"],
              "pass_walls": [p["wall_s"] for p in result["passes"]],
              "pass_steal": [p["steal_frac"] for p in result["passes"]],
              "metrics": metrics, "attempted": attempted,
              "failed": failed, "problems": problems}
    runs = os.path.join(state, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if a.trace:
        traced = next(p for p in result["passes"] if p["traced"])
        with open(os.path.join(runs, f"{run_id}.spans.json"), "w") as fh:
            json.dump(benchlib.spans(traced, result["trace"]), fh)
    shutil.rmtree(work, ignore_errors=True)

    if env["contended"]:
        print(f"WARNING: 1-min load average {load_start:.2f} at start exceeds "
              f"{cores}/2 cores; these figures reflect contention, not the code",
              file=sys.stderr)
    print("env " + json.dumps(env, sort_keys=True))
    for p in problems:
        print(f"FAILED {p}")
    print(f"fail_frac {failed / attempted:.6f} ratio ({failed}/{attempted} ops)")
    times = benchlib.op_times(result)
    if times:
        print(f"op_p50_s {benchlib.percentile(times, 0.5):.6g} s, op_p90_s "
              f"{benchlib.percentile(times, 0.9):.6g} s ({len(times)} ops; report "
              f"only: too few ops for steady percentiles)")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
