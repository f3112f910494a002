"""Steadiness report: run the benchmark N times per workload, one seed each,
and report per (metric, workload) the median, the quartiles and the spread
(interquartile range over median) against the metric's bound in
``BENCHMARK.json``.

    python3 perfbench/steady.py --runs 10 --first-seed 1 [--out B.jsonl --against A.jsonl]

Run from the repository root. Runs go one at a time, every workload of
``BENCHMARK.json``. Results are appended, one JSON line per run, to ``--out``
(default ``.perfbench_work/steady.jsonl``) and the table is printed at the
end; ``--against FIRST.jsonl`` adds each median's change against a
first set of runs (the second run-agreement criterion). A spread within a
third of its bound is marked ``ok``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def _values(rows: list[dict], workload: str, name: str) -> list[float]:
    return [r["result"]["metrics"][name]["value"] for r in rows
            if r["workload"] == workload and name in r["result"]["metrics"]]


def report(spec: dict, rows: list[dict], first: list[dict] | None = None) -> str:
    """Per (workload, metric): quartiles, spread = IQR / median against the
    bound and, given a ``first`` set of runs, this set's median change
    against the first set's (positive = worse)."""
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    out = [f"{'workload':<10}{'metric':<13}{'n':>3}{'q1':>10}{'median':>10}{'q3':>10}"
           f"{'spread':>8}{'bound':>7}  verdict" + ("  vs-first" if first else "")]
    for w in sorted({r["workload"] for r in rows}):
        for name, m in metrics.items():
            vals = _values(rows, w, name)
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread, b = (q3 - q1) / med, m["bound"]
            verdict = "setup" if name == "setup_s" else (
                "ok" if spread < b / 3 else ("within" if spread <= b else "WIDE"))
            line = (f"{w:<10}{name:<13}{len(vals):>3}{q1:>10.4g}{med:>10.4g}{q3:>10.4g}"
                    f"{spread:>8.3f}{b:>7.2f}  {verdict:<7}")
            if first and _values(first, w, name):
                base = statistics.median(_values(first, w, name))
                worse = (med - base) / base * (1 if m["better"] == "lower" else -1)
                line += f"  {worse:+.3f} {'ok' if worse <= b else 'WORSE'}"
            out.append(line)
        runs = [r for r in rows if r["workload"] == w]
        bad = [r for r in runs if not r["result"]["correct"] or r["result"]["failed"]]
        out.append(f"{w:<10}{'failed runs':<13}{len(bad):>3} of {len(runs)}")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=".perfbench_work/steady.jsonl")
    ap.add_argument("--against", help="runs file of a first set to compare medians with")
    args = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    for w in (w["name"] for w in spec["workloads"]):
        for seed in range(args.first_seed, args.first_seed + args.runs):
            res = run_once(spec, w, seed)
            with out.open("a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "result": res}) + "\n")
            print(w, seed, json.dumps(res["metrics"]), file=sys.stderr, flush=True)
    load = lambda p: [json.loads(line) for line in Path(p).read_text().splitlines() if line]  # noqa: E731
    print(report(spec, load(out), load(args.against) if args.against else None))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
