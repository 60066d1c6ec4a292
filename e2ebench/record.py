#!/usr/bin/env python3
"""Traced record and per-layer report.

    python3 e2ebench/record.py --runs 3 [--workloads a,b] [--out e2ebench/records/traced.json]
    python3 e2ebench/record.py --show e2ebench/records/traced.json

For each workload (default: those in BENCHMARK.json) this runs the benchmark untraced and
traced, --runs times each on seeds 1..runs, and writes one record: the
first traced run's full detail (per-layer metrics, self-time ranking), every
run's end-to-end figures, and the tracing overhead per end-to-end metric as
the median traced value over the median untraced one. --show prints the
report of a record.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, seed: int, trace: int, seconds: int) -> dict:
    r = subprocess.run([sys.executable, str(ROOT / "e2ebench" / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} trace={trace} failed:\n{r.stderr[-2000:]}")
    return json.loads(lines[-2])


def median(runs: list, metric: str) -> float:
    return statistics.median(r["end_to_end"][metric]["value"] for r in runs)


def show(rec: dict) -> None:
    for w, r in rec["workloads"].items():
        t = r["traced"][0]
        print(f"== {w}  ({len(r['traced'])} runs each, {t['cores']} cores, "
              f"all correct={all(x['correct'] for x in r['traced'] + r['untraced'])})")
        print("  end to end (median)  untraced      traced   overhead")
        for k, m in t["end_to_end"].items():
            print(f"  {k:<18} {median(r['untraced'], k):>10.3f} {median(r['traced'], k):>11.3f}"
                  f"   {r['overhead'][k]:+.1%}   {m['unit']}")
        total = sum(t["self_time_ms"].values()) or 1.0
        print("  self time by layer (ms, share of all span time)")
        for layer, ms in t["self_time_ms"].items():
            print(f"    {layer:<28} {ms:>10.0f}  {ms / total:6.1%}")
        busy = {k: m for k, m in t["per_layer"].items() if m["n"] > 0}
        print("  per-layer metrics (layers the workload exercised)")
        for k, m in busy.items():
            print(f"    {k:<30} {m['value']:>14.3f} {m['unit']:<10} n={m['n']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--workloads", help="comma-separated; default: the workloads in BENCHMARK.json")
    ap.add_argument("--out", default=str(ROOT / "e2ebench" / "records" / "traced.json"))
    ap.add_argument("--show")
    a = ap.parse_args()
    if a.show:
        show(json.loads(Path(a.show).read_text()))
        return
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    rec = {"seeds": list(range(1, a.runs + 1)), "workloads": {}}
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    for w in names:
        plain = [run(w, s, 0, spec["run_seconds"]) for s in rec["seeds"]]
        traced = [run(w, s, 1, spec["run_seconds"]) for s in rec["seeds"]]
        rec["workloads"][w] = {
            "overhead": {k: median(traced, k) / median(plain, k) - 1 for k in plain[0]["end_to_end"]},
            # the first traced run whole; of the others, the end-to-end figures
            "traced": [traced[0]] + [{k: x[k] for k in ("correct", "end_to_end")} for x in traced[1:]],
            "untraced": [{k: x[k] for k in ("correct", "end_to_end")} for x in plain],
        }
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(rec, indent=1) + "\n")
    show(rec)


if __name__ == "__main__":
    main()
