"""Run every workload once untraced and once traced; print one table.

    python3 perfbench/summary.py [--seed 1] [--seconds 10]

Prints every end-to-end metric by name with its unit for each workload,
plus ``pass_max_s`` (the slowest warm pass) and ``failed_share`` (failed /
attempted operations), whether outputs
were correct, the per-layer metrics of the traced run, the tracing
overhead (traced ``pass_s`` minus untraced ``pass_s``) and the context
each result was measured in (nproc, load average, steal, pass counts).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_one(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(context, result) of one ``run.py`` invocation."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def render(spec: dict, runs: dict[str, dict]) -> str:
    """``runs[workload] = {"plain": (context, result), "traced": (context, result)}``."""
    out = []
    for w in (x["name"] for x in spec["workloads"]):
        ctx, res = runs[w]["plain"]
        tctx, tres = runs[w]["traced"]
        out.append(
            f"== {w}: correct={res['correct']} attempted={res['attempted']} "
            f"failed={res['failed']} nproc={ctx['nproc']} "
            f"loadavg={ctx['loadavg'][0]:.2f} steal={ctx['steal_pct']:.2f}% "
            f"passes=1 cold + {ctx['passes']['warm']} warm"
        )
        for m in spec["end_to_end"]:
            v = res["metrics"][m["name"]]
            n = ctx["samples"][m["name"]]
            out.append(f"  {m['name']:<36} {v['value']:>14.4f} {v['unit']:<6} (n={n})")
        out.append(f"  {'pass_max_s':<36} {ctx['pass_max_s']:>14.4f} {'s':<6} "
                   f"(slowest of {ctx['passes']['warm']} warm)")
        out.append(f"  {'failed_share':<36} {ctx['failed_share']:>14.4f} {'1':<6}")
        overhead = (tres["metrics"]["trace.pass_s"]["value"]
                    - res["metrics"]["pass_s"]["value"])
        out.append(f"  {'trace overhead (pass_s)':<36} {overhead:>14.4f} s")
        out.append(f"  -- traced run: correct={tres['correct']} "
                   f"steal={tctx['steal_pct']:.2f}%")
        for m in spec["per_layer"]:
            v = tres["metrics"][m["name"]]
            out.append(f"  {m['name']:<36} {v['value']:>14.4f} {v['unit']}")
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="warm-phase seconds (default: BENCHMARK.json run_seconds)")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    runs = {}
    for w in (x["name"] for x in spec["workloads"]):
        runs[w] = {
            "plain": run_one(w, args.seed, seconds, 0),
            "traced": run_one(w, args.seed, seconds, 1),
        }
    print(render(spec, runs))
    return 0 if all(r["plain"][1]["correct"] and r["traced"][1]["correct"]
                    for r in runs.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
