"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (IQR / median), the check a
benchmark must pass before its numbers are trusted:

    python3 perfbench/spread.py --workloads daily_diff,publish_sf01 \\
        --seeds 1-10 --record perfbench/results/set1.json

Runs are sequential, one process each, exactly as ``BENCHMARK.json``'s
command runs them.  ``--compare A.json B.json`` prints how far set B's
medians moved from set A's, against each metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_set(workloads: list[str], seeds: list[int], seconds: int,
            record: str | None = None) -> dict:
    spec = _spec()
    out: dict = {}
    for w in workloads:
        runs = []
        for seed in seeds:
            t0 = time.time()
            proc = subprocess.run(
                spec["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.time() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            extra = {ln.split()[1]: json.loads(ln.split(" ", 2)[2])
                     for ln in lines if ln.startswith("perfbench ")}
            runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()},
                         **extra})
            print(f"{w} seed {seed}: {wall:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items()),
                  flush=True)
            out[w] = {"runs": runs, "summary": summarize(runs)}
            if record:  # after every run, so a cut set keeps what it measured
                with open(record, "w") as f:
                    json.dump(out, f, indent=1)
    return out


def summarize(runs: list[dict]) -> dict:
    bounds = {m["name"]: m["bound"] for m in _spec()["end_to_end"]}
    summary = {}
    for name, bound in bounds.items():
        vals = [r["metrics"][name] for r in runs if name in r["metrics"]]
        if len(vals) < 2:
            continue
        summary[name] = {"median": statistics.median(vals), "spread": spread(vals),
                         "bound": bound, "n": len(vals)}
    return summary


def print_summary(result: dict) -> None:
    for w, data in result.items():
        walls = [r["wall_s"] for r in data["runs"]]
        print(f"\n{w}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s, "
              f"all correct: {all(r['correct'] for r in data['runs'])}")
        for name, s in data["summary"].items():
            flag = "ok" if s["spread"] < s["bound"] / 3 else (
                "WITHIN BOUND" if s["spread"] <= s["bound"] else "OVER BOUND")
            print(f"  {name:14s} median {s['median']:12.4f}  spread {s['spread']:.3f}"
                  f"  bound {s['bound']:.2f}  {flag}")


def compare(a: dict, b: dict) -> None:
    spec = {m["name"]: m for m in _spec()["end_to_end"]}
    for w in a:
        if w not in b:
            continue
        print(f"\n{w}:")
        for name, m in spec.items():
            ma, mb = a[w]["summary"][name]["median"], b[w]["summary"][name]["median"]
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            print(f"  {name:14s} {ma:12.4f} -> {mb:12.4f}  worse by {worse:+.3f}"
                  f"  bound {m['bound']:.2f}  {'ok' if worse <= m['bound'] else 'FAIL'}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in _spec()["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=_spec()["run_seconds"])
    p.add_argument("--record", help="write the runs and summary to this JSON file")
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = p.parse_args()
    if args.compare:
        with open(args.compare[0]) as fa, open(args.compare[1]) as fb:
            compare(json.load(fa), json.load(fb))
        return 0
    result = run_set(args.workloads.split(","), _seeds(args.seeds), args.seconds,
                     args.record)
    print_summary(result)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
