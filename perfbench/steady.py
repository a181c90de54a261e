#!/usr/bin/env python3
"""Steadiness tooling for the benchmark in this directory.

Run a workload over several seeds and keep every result line:

    python3 perfbench/steady.py run --workload migration --seeds 1-10 --out a.jsonl

Summarise result files: per workload and metric the median, quartiles and
(q3 - q1) / median next to the metric's bound from BENCHMARK.json, the
wall-clock seconds each run took, and the tracing overhead where the same
seed ran traced and untraced:

    python3 perfbench/steady.py summary a.jsonl

Compare two result sets of the same code (or a change against its parent)
under the benchmark's bounds: a metric fails when the second median is
worse than the first by more than its bound:

    python3 perfbench/steady.py compare a.jsonl b.jsonl

Quartiles are statistics.quantiles(values, n=4), as the acceptance check
computes them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec, {m["name"]: m for m in spec["end_to_end"]}


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def cmd_run(args):
    spec, _ = load_spec()
    for seed in seeds(args.seeds):
        argv = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(argv, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True)
        elapsed = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            result = None
        digests = [ln.split("digest-stable:")[1].split()[0] for ln in lines if "digest-stable:" in ln]
        rec = {"workload": args.workload, "seed": seed, "trace": args.trace, "exit": proc.returncode,
               "elapsed_s": round(elapsed, 2), "result": result, "digest": digests[0] if digests else None}
        with open(args.out, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        m = (result or {}).get("metrics", {})
        shown = " ".join(f"{k}={v['value']:.4g}" for k, v in list(m.items())[:7])
        print(f"{args.workload} seed {seed} trace {args.trace}: exit {proc.returncode}, "
              f"{elapsed:.1f} s, correct={None if result is None else result['correct']} {shown}",
              flush=True)


def records(paths):
    recs = []
    for p in paths:
        with open(p) as fh:
            recs += [json.loads(ln) for ln in fh if ln.strip()]
    return recs


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def cmd_summary(args):
    _, bounds = load_spec()
    recs = records(args.files)
    for wl in sorted({r["workload"] for r in recs}):
        untraced = [r for r in recs if r["workload"] == wl and r["trace"] == 0 and r["result"]]
        traced = [r for r in recs if r["workload"] == wl and r["trace"] == 1 and r["result"]]
        runs = [r for r in recs if r["workload"] == wl]
        bad = [r["seed"] for r in runs if r["exit"] != 0 or not (r["result"] or {}).get("correct")]
        el = [r["elapsed_s"] for r in runs]
        print(f"== {wl}: {len(untraced)} untraced, {len(traced)} traced runs; "
              f"failed seeds {bad or 'none'}; run seconds median {statistics.median(el):.1f} "
              f"max {max(el):.1f} total {sum(el):.0f}")
        if len(untraced) >= 2:
            for name, b in bounds.items():
                vals = [r["result"]["metrics"][name]["value"] for r in untraced]
                med, q1, q3, rel = spread(vals)
                verdict = "ok" if rel < b["bound"] / 3 else ("WITHIN BOUND" if rel < b["bound"] else "TOO WIDE")
                if name == "setup_s":
                    verdict += " (not required)"
                print(f"  {name:14s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  "
                      f"iqr/med {rel:6.3f}  bound {b['bound']:.2f}  {verdict}")
        pairs = [(t, u) for t in traced for u in untraced if t["seed"] == u["seed"]]
        if pairs:
            over = [t["result"]["metrics"]["trace.wall_s"]["value"] - u["result"]["metrics"]["wall_s"]["value"]
                    for t, u in pairs]
            att = [t["result"]["metrics"]["trace.attributed_frac"]["value"] for t, _ in pairs]
            print(f"  tracing overhead over {len(pairs)} seed pairs: median {statistics.median(over):.3f} s "
                  f"(min {min(over):.3f}, max {max(over):.3f}); attributed jobs min {min(att):.3f}")
        by_seed = {}
        for r in runs:
            if r.get("digest"):
                by_seed.setdefault(r["seed"], set()).add(r["digest"])
        if by_seed:
            unstable = [s for s, d in by_seed.items() if len(d) > 1]
            print(f"  output digests: {len(by_seed)} seeds, differing across runs of one seed: "
                  f"{unstable or 'none'}")


def cmd_compare(args):
    _, bounds = load_spec()
    a, b = records([args.first]), records([args.second])
    ok = True
    for wl in sorted({r["workload"] for r in a} & {r["workload"] for r in b}):
        va = [r["result"]["metrics"] for r in a if r["workload"] == wl and r["trace"] == 0 and r["result"]]
        vb = [r["result"]["metrics"] for r in b if r["workload"] == wl and r["trace"] == 0 and r["result"]]
        if not va or not vb:
            continue
        for name, spec in bounds.items():
            ma = statistics.median(m[name]["value"] for m in va)
            mb = statistics.median(m[name]["value"] for m in vb)
            worse = (mb - ma) / ma if spec["better"] == "lower" else (ma - mb) / ma
            verdict = "ok" if worse <= spec["bound"] else "WORSE THAN BOUND"
            ok &= worse <= spec["bound"]
            print(f"{wl:12s} {name:14s} {ma:12.5g} -> {mb:12.5g}  worse by {worse:+.3f} "
                  f"(bound {spec['bound']:.2f})  {verdict}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    {"run": cmd_run, "summary": cmd_summary, "compare": cmd_compare}[args.cmd](args)


if __name__ == "__main__":
    main()
