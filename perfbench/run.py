#!/usr/bin/env python3
"""graft's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (perfbench/build.py), runs one
workload in one JVM on local[4], checks every output, and prints as its last
stdout line one JSON object: correct, attempted, failed, and the metrics of
BENCHMARK.json (end_to_end with --trace 0, per_layer with --trace 1).

Extra options: --scale smoke (tiny inputs, see perfbench/test_smoke.py),
--corrupt 1 (negative control: one expected result is falsified, the run
must report a failure), --record <file> (write the observed query results
in the format of perfbench/expected/queries.tsv).
"""
import argparse
import json
import os
import pathlib
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("mr_corpus", "query_mix", "stream_upsert")
JVM_TIMEOUT_S = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="bench", choices=("bench", "smoke"))
    ap.add_argument("--corrupt", default="0", choices=("0", "1"))
    ap.add_argument("--record")
    args = ap.parse_args()

    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        classes = build.build()
        jars = build.spark_jars()
    except (OSError, ValueError, build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"cannot build the benchmark: {e}")
    wanted = spec["per_layer"] if args.trace == "1" else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    work = build.BUILD / "work"
    work.mkdir(parents=True, exist_ok=True)
    log = work / f"{args.workload}-{os.getpid()}.log"
    # Parallel GC with a fixed heap and young generation: peak RSS then
    # follows the program's retained data instead of G1's adaptive sizing.
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = ["java", *ADD_OPENS, "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{jars}/*", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace, "--scale", args.scale,
           "--data-root", str(build.BUILD / "data"), "--work-root", str(work),
           "--expect", str(ROOT / "perfbench" / "expected" / "queries.tsv"),
           "--corrupt", args.corrupt, "--launch-epoch-ms", str(int(time.time() * 1000))]
    if args.record:
        cmd += ["--record", str(pathlib.Path(args.record).resolve())]
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
        timer.start()
        out = proc.stdout.read()
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
        timer.cancel()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = log.read_text(errors="replace").splitlines()[-30:]
        fail(f"JVM exited with {proc.returncode}; last log lines:\n" + "\n".join(tail))
    log.unlink()
    res = json.loads(lines[-1])

    raw = dict(res["metrics"])
    if args.trace == "0":
        raw["peak_rss_mb"] = usage.ru_maxrss / 1024.0  # ru_maxrss is in KiB on Linux
    if set(raw) != set(units):
        fail(f"metrics {sorted(raw)} do not match BENCHMARK.json {sorted(units)}")
    print(f"perfbench: {args.workload} seed {args.seed}: {json.dumps(res['extra'])}", file=sys.stderr)
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": raw[n], "unit": units[n]} for n in units},
    }))


if __name__ == "__main__":
    main()
