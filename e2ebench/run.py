#!/usr/bin/env python3
"""The benchmark's one command.

    python3 e2ebench/run.py --workload queries --seed 1 --seconds 30 --trace 0
    python3 e2ebench/run.py --self-test

Builds the program from source on first use (see build.py), runs one
workload in a fresh JVM under a hard deadline, prints the full record
(every figure with its sample count, and the output checks) and then, as
the last line, the contract record: correct, attempted, failed, metrics.
Run from the root of the checkout; everything it writes goes under
.bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing into the checkout outside .bench_build/
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
JVM_DEADLINE_S = 140   # the harness stops starting work and reports
JVM_KILL_S = 165       # the JVM is killed; no record is printed
HEAP = "3g"
# BENCHMARK.json gates the first two; `session` runs on request (README.md)
WORKLOADS = ("queries", "ingest_mqtt", "session")


def run_jvm(cmd, log: Path, timeout: float) -> int:
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def fail(msg: str, code: int = 1):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else None
    try:
        classes = build.build()
        if a.self_test:
            code = subprocess.run(build.java_cmd(classes, "1g") + ["graftbench.SelfTest"], cwd=ROOT).returncode
            sys.exit(code)
        data = build.prepare_data(classes)
    except build.BuildError as e:
        fail(str(e))
    if spec is None:
        fail("BENCHMARK.json not found at the checkout root")
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {WORKLOADS}", 2)

    out = build.BUILD / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = build.java_cmd(classes, HEAP) + [
        "graftbench.Main", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", str(data),
        "--out", str(out), "--queries", str(HERE / "queries.txt"),
        "--expected", str(HERE / "expected_digests.tsv"), "--deadline-s", str(JVM_DEADLINE_S),
    ]
    code = run_jvm(cmd, out / "jvm.log", JVM_KILL_S)
    # scratch state of the run; the records stay
    for p in out.iterdir():
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
    if code != 0 or not (out / "result.json").is_file():
        tail = (out / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"workload run failed (exit {code}); last output:\n{tail}", 3)

    result = json.loads((out / "result.json").read_text())
    detail = json.loads((out / "detail.json").read_text())
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = set(result["metrics"])
    if got != want:
        fail(f"metrics {sorted(got ^ want)} differ from BENCHMARK.json", 4)
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
