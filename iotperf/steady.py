#!/usr/bin/env python3
"""Repeat-set runner: runs the benchmark once per seed for each workload and
records every metric's median, quartiles and quartile spread
((q3 - q1) / median).

    python3 iotperf/steady.py --workloads iot_ingest dashboard --seeds 1-10 \\
        [--seconds 20] [--trace 0] [--slots N] --out iotperf/evidence/set.json
    python3 iotperf/steady.py --report set1.json [set2.json ...]

Run from the repository root. Runs are sequential; each is one
`iotperf/run.py` process, exactly as the benchmark command runs it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds, trace, slots):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if slots:
        cmd += ["--slots", str(slots)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    def tagged(tag):
        return next((json.loads(ln.split(" ", 2)[2]) for ln in lines
                     if ln.startswith(f"iotperf {tag} ")), {})
    header, samples = tagged("header"), tagged("samples")
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return {"seed": seed, "exit": p.returncode, "wall_s": wall, "header": header}
    return {"seed": seed, "exit": p.returncode, "wall_s": wall, "header": header,
            "samples": samples, "result": json.loads(lines[-1])}


def summarize(runs):
    ok = [r for r in runs if "result" in r]
    names = sorted({k for r in ok for k in r["result"]["metrics"]})
    out = {}
    for k in names:
        xs = [r["result"]["metrics"][k]["value"] for r in ok if k in r["result"]["metrics"]]
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) >= 2 else (xs[0],) * 3
        out[k] = {"median": statistics.median(xs), "q1": q1, "q3": q3,
                  "spread": metrics.quartile_spread(xs) if len(xs) >= 2 and med else None,
                  "values": xs}
    return out


def report(paths):
    """Markdown table of each set's per-metric median and quartile spread,
    and the change of each median from the first set to the last."""
    sets = []
    for p in paths:
        with open(p) as f:
            sets.append(json.load(f))
    head = "| workload | metric | " + " | ".join(
        f"{os.path.basename(p)} median (spread)" for p in paths)
    print(head + (" | last vs first |" if len(sets) > 1 else " |"))
    print("|" + "---|" * (head.count("|") + (1 if len(sets) > 1 else 0)))
    for w, rec in sets[0]["workloads"].items():
        for k in rec["summary"]:
            cells, meds = [], []
            for st in sets:
                v = st["workloads"].get(w, {}).get("summary", {}).get(k)
                meds.append(v["median"] if v else None)
                cells.append(f"{v['median']:.4g} ({v['spread']:.3f})" if v else "n/a")
            row = f"| {w} | {k} | " + " | ".join(cells) + " |"
            if len(sets) > 1 and meds[0] and meds[-1] is not None:
                row += f" {meds[-1] / meds[0] - 1:+.3f} |"
            print(row)


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--report":
        return report(sys.argv[2:])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--slots", type=int, default=None)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open("BENCHMARK.json") as f:
            seconds = json.load(f)["run_seconds"]
    record = {"seconds": seconds, "trace": args.trace, "slots": args.slots,
              "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workloads": {}}
    for w in args.workloads:
        runs = []
        for s in seeds(args.seeds):
            r = run_once(w, s, seconds, args.trace, args.slots)
            runs.append(r)
            res = r.get("result", {})
            print(f"{w} seed={s} exit={r['exit']} wall={r['wall_s']:.1f}s "
                  f"correct={res.get('correct')} failed={res.get('failed')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()
                             if args.trace == 0), flush=True)
        record["workloads"][w] = {"runs": runs, "summary": summarize(runs)}
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    for w, rec in record["workloads"].items():
        for k, v in rec["summary"].items():
            if v["spread"] is not None and (args.trace == 0 or k.startswith(("trace.", "host."))):
                print(f"{w:12s} {k:32s} median={v['median']:.4g} spread={v['spread']:.4f}")


if __name__ == "__main__":
    main()
