"""A/A steadiness check: the same commit, run again and again.

    python3 lapbench/aa.py --runs 10 --sets 2 --out lapbench/AA_RESULT.md
    python3 lapbench/aa.py --replay lapbench/AA_RESULT.jsonl   # re-judge, no runs

Runs every workload of BENCHMARK.json ``--runs`` times per set, alternating
the workload order between rounds, each run with its own seed (set s, round
i uses seed ``100 * s + i + 1``). For each (workload, metric) it reports each
set's median, quartiles and spread, (q3 - q1) / median, against the metric's
declared bound, and how far the second set's median moved from the first's.
A spread must stay within its bound; a median may not worsen by more than
its bound between sets.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> tuple[dict, str, float]:
    t = time.monotonic()
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    info = next((ln for ln in lines if ln.startswith("lapbench-info ")), "")
    return json.loads(lines[-1]), info, wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def report(raw: list[dict], bench: dict, names: list[str]) -> tuple[str, bool]:
    """The steadiness table for the runs in ``raw`` against ``bench``'s bounds."""
    values: dict[tuple, list[float]] = {}
    for r in raw:
        for m, v in r["result"]["metrics"].items():
            values.setdefault((r["set"], r["workload"], m), []).append(v["value"])
    sets = sorted({r["set"] for r in raw})
    walls = [r["wall_s"] for r in raw]
    failures = sum(r["result"]["failed"] for r in raw)
    n_runs = 4 + 22 * len(names)
    lines = [f"# A/A steadiness: {len(sets)} sets x {len(raw) // len(sets) // len(names)} runs,"
             f" run_seconds={bench['run_seconds']}", "",
             f"Runs: {len(raw)}, failed applies: {failures}, run wall median "
             f"{statistics.median(walls):.1f} s, mean {statistics.mean(walls):.1f} s, max "
             f"{max(walls):.1f} s; {n_runs} runs (4 + 22 per workload) at the mean take "
             f"{n_runs * statistics.mean(walls):.0f} s.",
             "",
             "| workload | metric | set | median | q1 | q3 | spread | bound | spread/bound |"
             " median drift vs set 0 |",
             "|---|---|---|---|---|---|---|---|---|---|"]
    ok = True
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    for w in names:
        for m, decl in bounds.items():
            base = None
            for s in sets:
                vals = values.get((s, w, m))
                if not vals:
                    continue
                med, q1, q3, sp = spread(vals)
                base = med if base is None else base
                drift = (med - base) / base * (1 if decl["better"] == "lower" else -1)
                if sp > decl["bound"] or drift > decl["bound"]:
                    ok = False
                lines.append(f"| {w} | {m} | {s} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                             f"{sp:.3f} | {decl['bound']} | {sp / decl['bound']:.2f} | "
                             f"{drift:+.3f} |")
    lines += ["", "Verdict: " + ("steady" if ok else "NOT steady"), "",
              "Per run, in run order: run_s and the host steal jiffies summed over its reps.",
              ""]
    for w in names:
        runs = [r for r in raw if r["workload"] == w]
        lines.append(f"- {w}: " + ", ".join(
            f"{r['result']['metrics']['run_s']['value']:.2f}s/"
            f"{sum(x['steal_jiffies'] for x in r['info']['reps'])}" for r in runs))
    return "\n".join(lines), ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--out", help="write the report here, and the runs next to it (.jsonl)")
    ap.add_argument("--replay", help="report on the runs in this .jsonl instead of running")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]

    raw = []
    if args.replay:
        with open(args.replay) as fh:
            raw = [json.loads(line) for line in fh]
    for s in range(0 if args.replay else args.sets):
        for i in range(args.runs):
            order = names if i % 2 == 0 else names[::-1]
            for w in order:
                seed = 100 * s + i + 1
                res, info, wall = run_once(bench["command"], w, seed, bench["run_seconds"])
                if not res["correct"]:
                    print(f"INCORRECT {w} seed {seed}: {info}", file=sys.stderr)
                raw.append({"set": s, "workload": w, "seed": seed, "wall_s": round(wall, 1),
                            "result": res, "info": json.loads(info.split(" ", 1)[1])})
                print(f"set {s} run {i} {w} seed {seed}: {wall:.0f}s "
                      + " ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()),
                      file=sys.stderr, flush=True)

    text, ok = report(raw, bench, names)
    print(text)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
        if not args.replay:
            with open(os.path.splitext(args.out)[0] + ".jsonl", "w") as fh:
                fh.writelines(json.dumps(r) + "\n" for r in raw)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
