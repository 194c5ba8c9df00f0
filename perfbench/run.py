#!/usr/bin/env python3
"""Runs one benchmark workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke     # every workload at tiny size

Run from the repository root. The first run compiles the library and
the benchmark (see build.py) into the build directory, `.bench_build`
unless CARGO_TARGET_DIR names another one. Each run writes its full
record, and with --trace 1 its spans, under `<build dir>/runs/` with a
name of its own, so no run overwrites another's output.

With --trace 0 the last stdout line holds every end-to-end metric of
BENCHMARK.json; with --trace 1 it holds every per-layer metric, after a
per-layer table. The exit code is non-zero when any output check fails.
"""

import argparse
import datetime
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no cache files beside the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["paper_build_search", "ann_serve", "gate_ingest"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("Spark not found: set SPARK_HOME")
    return Path(home) / "jars"


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half the machine's memory in GB, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return out.stdout.strip() or "none"
    except OSError:
        return "none"


def definition():
    path = ROOT / "BENCHMARK.json"
    if not path.is_file():
        fail("BENCHMARK.json is missing from the repository root")
    return json.loads(path.read_text())


def exclusive_write(path: Path, text: str):
    with open(path, "x") as f:
        f.write(text)


def jvm_run(workload, seed, seconds, trace, smoke, build_dir, classes, jars, run_id):
    """One JVM, one workload. Returns the parsed result and stdout lines."""
    work = build_dir / "work" / run_id
    runs = build_dir / "runs"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    runs.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dderby.system.home=" + str(work)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", str(work),
            "--out", str(runs / run_id), "--smoke", "1" if smoke else "0",
            "--cores", str(cores())]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    log = runs / f"{run_id}.jvm.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)

        def stop(*_):
            # the JVM runs in its own session: take it down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail("interrupted", 1)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s (log: {log})", 1)
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = next((json.loads(l[len("PERFBENCH_RESULT "):]) for l in reversed(lines)
                   if l.startswith("PERFBENCH_RESULT ")), None)
    if proc.returncode != 0 or result is None:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"{workload} JVM exited with code {proc.returncode} and no result", 1)
    return result, [l for l in lines if not l.startswith("PERFBENCH_RESULT ")]


def run_one(workload, seed, seconds, trace, smoke=False):
    """Runs a workload; returns (line to print, correct, full record)."""
    spec = definition()
    jars = spark_jars()
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes, src_hash = build.build(build_dir, jars)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    run_id = f"{stamp}-{workload}-s{seed}-t{int(trace)}-p{os.getpid()}"

    result, lines = jvm_run(workload, seed, seconds, trace, smoke, build_dir, classes,
                            jars, run_id)
    for l in lines:
        print(l)
    measured = dict(result["metrics"])

    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    if workload not in [w["name"] for w in spec["workloads"]]:
        # a workload kept out of BENCHMARK.json reports all it measured
        units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
        wanted = [{"name": k, "unit": units.get(k, "-")} for k in measured
                  if trace or k in units and any(k == m["name"] for m in spec["end_to_end"])]
    metrics, missing = {}, []
    for m in wanted:
        v = measured.get(m["name"])
        if v is None and trace:
            v = 0.0  # a layer this workload does not exercise
        if v is None or not math.isfinite(v):
            missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if not trace:
        # an end-to-end metric that reads 0 measured nothing
        missing += [n for n, m in metrics.items() if m["value"] <= 0 and n not in missing]
    correct = result["failed"] == 0 and not missing
    line = {"correct": correct, "attempted": result["attempted"],
            "failed": result["failed"] + (1 if missing else 0), "metrics": metrics}
    record = {"run_id": run_id, "workload": workload, "seed": seed, "seconds": seconds,
              "trace": int(trace), "smoke": smoke, "cores": cores(), "heap": heap(),
              "commit": commit(), "source_hash": src_hash, "missing": missing,
              "result": line, "all_metrics": measured, "info": result["info"],
              "errors": result["errors"]}
    exclusive_write(build_dir / "runs" / f"{run_id}.json", json.dumps(record, indent=1) + "\n")
    if result["errors"] or missing:
        for e in result["errors"]:
            print(f"check failed: {e}", file=sys.stderr)
        if missing:
            print(f"metrics not measured: {', '.join(missing)}", file=sys.stderr)
    print(f"run {run_id}: seed {seed}, {cores()} cores, heap {heap()}, "
          f"commit {record['commit']}, sources {src_hash[:12]}", file=sys.stderr)
    return json.dumps(line), correct, record


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at tiny size and check its outputs")
    a = ap.parse_args()
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            line, correct, _ = run_one(w, a.seed, 1, bool(a.trace), smoke=True)
            print(f"smoke {w}: {'ok' if correct else 'FAILED'} {line}")
            ok = ok and correct
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload is required")
    line, correct, _ = run_one(a.workload, a.seed, a.seconds, bool(a.trace))
    print(line)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
