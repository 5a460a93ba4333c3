#!/usr/bin/env python3
"""Daemon ingest benchmark.

Runs the repository's `graft.streaming.Daemon` over a generated plant
of Modbus channels and prints every metric by name with its unit, the
correctness checks and the failed/attempted counts; the last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's end-to-end metrics,
with `--trace 1` its per-layer metrics (a traced run that also times an
untraced run of the same length and compares their tables).

    python3 perfbench/run.py --workload poll_narrow --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the program and
the benchmark (see perfbench/build.py). Workloads: poll_narrow,
poll_wide_tcp, retain_read_mix (see BENCHMARK.json for why each).
"""
import argparse
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

TCP_WORKLOADS = {"poll_wide_tcp"}
DEADLINE_S = 170

JVM_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def read_line(proc, timeout):
    """One line of a child's stdout, or None after `timeout` seconds."""
    end = time.monotonic() + timeout
    buf = b""
    fd = proc.stdout.fileno()
    while time.monotonic() < end:
        r, _, _ = select.select([fd], [], [], max(0.0, end - time.monotonic()))
        if not r:
            break
        c = os.read(fd, 1)
        if not c:
            break
        if c == b"\n":
            return buf.decode()
        buf += c
    return None


def stop(proc):
    if proc is None or proc.poll() is not None:
        return
    proc.terminate()
    try:
        proc.wait(10)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVMs (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    spec_file = root / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("run from the repository root (no BENCHMARK.json here)")
    if not (root / "src" / "main" / "scala").is_dir():
        fail("no program sources (src/main/scala) in this directory")
    spec = json.loads(spec_file.read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classpath = build.build(root)
    started = time.monotonic()
    work = root / ".bench_build" / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    java = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    jvm = java + ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
                  f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
                  f"-Dspark.hadoop.hadoop.tmp.dir={work / 'tmp'}"] + JVM_OPTS + ["-cp", classpath]

    sim = bench = None
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work / "data")]
        if a.trace:
            traces = root / ".bench_build" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            args += ["--trace-out", str(traces / f"{a.workload}-{a.seed}.jsonl")]
        if a.workload in TCP_WORKLOADS:
            sim = subprocess.Popen(java + ["-Xmx512m", "-cp", classpath, "perfbench.DeviceSim",
                                               a.workload, str(a.seed)],
                                   stdin=subprocess.PIPE, stdout=subprocess.PIPE, cwd=work, env=env)
            ready = read_line(sim, 60)
            if not ready or not ready.startswith("READY "):
                fail(f"device simulator did not start: {ready!r}")
            args += ["--sim", ",".join(ready.split()[1:])]
        bench = subprocess.Popen(jvm + ["perfbench.DaemonBench"] + args, stdout=subprocess.PIPE,
                                 cwd=work, env=env)
        remaining = DEADLINE_S - (time.monotonic() - started)
        try:
            out, _ = bench.communicate(timeout=max(remaining, 1))
        except subprocess.TimeoutExpired:
            fail("benchmark exceeded its deadline")
        if bench.returncode != 0:
            fail(f"benchmark JVM exited with {bench.returncode}")
        lines = [l for l in out.decode().splitlines() if l.startswith("{")]
        if not lines:
            fail("benchmark JVM printed no result")
        res = json.loads(lines[-1])
    finally:
        stop(bench)
        if sim is not None:
            sim.stdin.close()
            stop(sim)
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            fail(f"metric {m['name']} missing from the run")
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} measured in {got['unit']}, declared {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  nproc {res['nproc']}  "
          f"local[{res['session_cores']}]")
    for k, v in res.get("extra", {}).items():
        print(f"  {k:<32} {v}")
    better = {m["name"]: m["better"] for m in wanted}
    for name, got in res["metrics"].items():
        note = f"{better[name]} is better" if name in better else "(printed, not bounded)"
        value = "n/a" if got["value"] is None else f"{got['value']:.4f}"
        print(f"  {name:<32} {value:>14} {got['unit']:<10} {note}")
    print(f"  checks: {'pass' if res['correct'] else 'FAIL'}"
          + "".join(f"\n    {c}" for c in res["checks"]))
    print(f"  error_ratio {res['failed'] / res['attempted']:.4f} failed/attempted "
          f"({res['failed']}/{res['attempted']})")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
