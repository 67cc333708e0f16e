"""Noise study: run each workload once per seed and report, per end-to-end
metric, the median, the quartiles and the spread (Q3 - Q1) / median, with
quartiles as `statistics.quantiles(values, n=4)` gives them.

    python3 perfbench/noise.py --workloads curate,frames \
        --seeds 1-10 [--label set-a]

Run from the root of a graft checkout. Results are appended as JSON lines
to .bench_build/perfbench/noise/<label>.jsonl; a Markdown table is printed.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = json.loads(Path("BENCHMARK.json").read_text())


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--label", default="noise")
    a = ap.parse_args()
    log = Path(".bench_build/perfbench/noise") / f"{a.label}.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    print(f"| workload | metric | n | median | Q1 | Q3 | spread | bound |")
    print(f"|---|---|---|---|---|---|---|---|")
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    ok = True
    for w in a.workloads.split(","):
        values = {}
        for s in seeds(a.seeds):
            cmd = BENCH["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(BENCH["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            r = json.loads(p.stdout.splitlines()[-1])
            ok &= r["correct"]
            with log.open("a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "wall_s": wall, **r}) + "\n")
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            print(f"| {w} | {k} | {len(vs)} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                  f"| {(q3 - q1) / med:.3f} | {bounds.get(k)} |", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
