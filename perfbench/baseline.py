#!/usr/bin/env python3
"""Repeat benchmark runs and summarise them.

    python3 perfbench/baseline.py runs --out perfbench/baseline/set1.json \\
        --seeds 1-10 [--workloads st_query_mix,...]
    python3 perfbench/baseline.py compare perfbench/baseline/set1.json \\
        perfbench/baseline/set2.json
    python3 perfbench/baseline.py overhead --seed 1 --out perfbench/baseline/overhead.json

``runs`` executes ``run.py`` once per (workload, seed) with the settings
in BENCHMARK.json and records, for every end-to-end metric, the values,
median, quartiles (``statistics.quantiles(n=4)``) and the spread
(quartile distance / median). ``compare`` checks two such sets against
the bounds: every spread except ``setup_s`` within its bound (each is
marked steady below a third of it, ``setup_s`` too), and the second median
no worse than the first by more than the bound.
``overhead`` runs one seed untraced and traced, reports the traced run's
end-to-end metrics as ratios to the untraced ones (the tracing overhead)
and keeps the traced run's per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload, seed, seconds, trace):
    cmd = _bench()["command"] + ["--workload", workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    e2e = {m.group(1): float(m.group(2)) for m in
           (re.match(r"^(\w+) = (\S+) ", ln) for ln in lines) if m}
    res = json.loads(lines[-1])
    res["notes"] = [ln for ln in lines if ln.startswith("#")]
    return res, e2e, wall


def summarise(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def cmd_runs(args):
    bench = _bench()
    workloads = args.workloads.split(",") if args.workloads else \
        [w["name"] for w in bench["workloads"]]
    out = {"seconds": bench["run_seconds"], "workloads": {}}
    for w in workloads:
        vals: dict[str, list] = {}
        walls, verdicts, notes = [], [], []
        for seed in _seeds(args.seeds):
            res, _, wall = run_once(w, seed, bench["run_seconds"], 0)
            walls.append(wall)
            verdicts.append([res["correct"], res["attempted"], res["failed"]])
            notes.append(res["notes"])
            for k, m in res["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: {wall:.1f} s wall, correct {res['correct']}",
                  file=sys.stderr, flush=True)
        out["workloads"][w] = {"seeds": _seeds(args.seeds), "run_wall_s": walls,
                               "verdicts": verdicts, "notes": notes,
                               "metrics": {k: summarise(v) for k, v in vals.items()}}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print_table(out)


def print_table(s):
    for w, d in s["workloads"].items():
        for k, m in d["metrics"].items():
            print(f"{w:16s} {k:16s} median {m['median']:12.6g} "
                  f"q1 {m['q1']:12.6g} q3 {m['q3']:12.6g} spread {m['spread']:.4f}")


def cmd_compare(args):
    bench = _bench()
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    with open(args.first) as f:
        a = json.load(f)
    with open(args.second) as f:
        b = json.load(f)
    ok = True
    for w in a["workloads"]:
        for k, m in bounds.items():
            ma, mb = a["workloads"][w]["metrics"][k], b["workloads"][w]["metrics"][k]
            lower = m["better"] == "lower"
            worse = (mb["median"] - ma["median"]) / ma["median"]
            worse = worse if lower else -worse
            spread = max(ma["spread"], mb["spread"])
            # the spread of setup_s (one cold set-up per run: JVM start,
            # first jobs) is reported but not bounded; its median is
            exempt = k == "setup_s"
            good = (exempt or spread <= m["bound"]) and worse <= m["bound"]
            steady = spread < m["bound"] / 3
            ok &= good
            print(f"{'ok ' if good else 'BAD'} {'steady' if steady else 'noisy '}"
                  f"{' (spread exempt)' if exempt else ''} "
                  f"{w:16s} {k:14s} spreads {ma['spread']:.4f}/{mb['spread']:.4f} "
                  f"(bound {m['bound']}, steady below {m['bound'] / 3:.4f}) "
                  f"second worse by {worse:+.4f}")
    return 0 if ok else 1


def cmd_overhead(args):
    bench = _bench()
    out = {}
    for w in (args.workloads.split(",") if args.workloads
              else [x["name"] for x in bench["workloads"]]):
        _, off, _ = run_once(w, args.seed, bench["run_seconds"], 0)
        traced, on, _ = run_once(w, args.seed, bench["run_seconds"], 1)
        out[w] = {"end_to_end": {k: {"untraced": off[k], "traced": on[k],
                                     "ratio": on[k] / off[k]} for k in off},
                  "per_layer": {k: m["value"] for k, m in traced["metrics"].items()},
                  "correct": traced["correct"]}
        for k, v in out[w]["end_to_end"].items():
            print(f"{w:16s} {k:16s} untraced {v['untraced']:12.6g} "
                  f"traced {v['traced']:12.6g} ratio {v['ratio']:.3f}")
    with open(args.out, "w") as f:
        json.dump({"seed": args.seed, "workloads": out}, f, indent=1)


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    o = sub.add_parser("overhead")
    o.add_argument("--seed", type=int, default=1)
    o.add_argument("--out", required=True)
    o.add_argument("--workloads", default="")
    args = p.parse_args(argv)
    return {"runs": cmd_runs, "compare": cmd_compare, "overhead": cmd_overhead}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main() or 0)
