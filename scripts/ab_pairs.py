#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark for two checkouts.

Runs `perfbench/run.py` in checkout A and in checkout B, N times each, as
pairs: pair i uses seed S+i for both sides, and the side that runs first
alternates (A first in even pairs, B first in odd ones), so a drift of the
host over the session does not favour one side. Every run lasts the
`run_seconds` that checkout A's `BENCHMARK.json` sets. Every run's result
line is written to a new JSON-lines log as soon as it finishes (an existing
log is refused, so one log holds one session's pairs); the summary is
computed from that log alone.

Usage (from anywhere):
  python3 scripts/ab_pairs.py run --a PARENT_DIR --b CHANGE_DIR \
      --workload api_point --pairs 10 --seed 101 --log ab.jsonl
  python3 scripts/ab_pairs.py summary ab.jsonl

For every end-to-end metric the summary prints the per-pair values, each
side's median [q1, q3], A's IQR/median, the median change B vs A, the
pairs in which B is better, and whether the medians differ by more than A's
IQR. "Better" is the direction `BENCHMARK.json` declares for the metric
(read from checkout A when the log is written). The script only reads what
`run.py` prints; it changes nothing in either checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_result(stdout):
    """The benchmark's result line (the last JSON object printed) and the
    host canary line, or (None, canary) when there is none."""
    result, canary = None, None
    for line in stdout.splitlines():
        line = line.strip()
        if line.startswith("host canary:"):
            canary = line
        elif line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and "metrics" in obj:
                result = obj
    return result, canary


def benchmark(checkout):
    """(run length in seconds, metric name -> "higher"/"lower"), from the
    checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["run_seconds"], {m["name"]: m["better"] for m in spec.get("end_to_end", [])}


def run_one(checkout, workload, seed, seconds):
    """One `run.py` run in `checkout`: its record for the log."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    result, canary = parse_result(p.stdout)
    rec = {"canary": canary}
    if p.returncode != 0 or result is None:
        rec["error"] = f"exit {p.returncode}: " + (p.stderr.strip().splitlines() or [""])[-1]
    else:
        rec.update(correct=result["correct"], attempted=result["attempted"],
                   failed=result["failed"],
                   metrics={k: v["value"] for k, v in result["metrics"].items()})
    return rec


def run_pairs(args):
    seconds, better = benchmark(args.a)
    try:
        log = open(args.log, "x")
    except FileExistsError:
        sys.exit(f"ab_pairs: {args.log} exists; pairs are numbered from 1 in every "
                 "session, so each session needs a new log")
    with log:
        for i in range(args.pairs):
            seed = args.seed + i
            order = ["A", "B"] if i % 2 == 0 else ["B", "A"]
            for pos, side in enumerate(order):
                checkout = args.a if side == "A" else args.b
                rec = run_one(checkout, args.workload, seed, seconds)
                rec.update(workload=args.workload, pair=i + 1, seed=seed, side=side,
                           first=order[0], position=pos, checkout=os.path.abspath(checkout),
                           better=better)
                log.write(json.dumps(rec, sort_keys=True) + "\n")
                log.flush()
                status = rec.get("error") or (
                    f"correct={rec['correct']} failed={rec['failed']}/{rec['attempted']}")
                print(f"pair {i + 1} seed {seed} {side}: {status}", file=sys.stderr)
    print(summarize(read_log(args.log)))


def read_log(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    """(q1, median, q3), interpolating between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, statistics.median(xs), q3


def fmt(x):
    return f"{x:.4g}" if abs(x) < 1000 else f"{x:.0f}"


def summarize(records):
    """The summary text for the runs in `records` (one workload each)."""
    out = []
    for workload in sorted({r["workload"] for r in records}):
        recs = [r for r in records if r["workload"] == workload]
        better = next((r["better"] for r in recs if r.get("better")), {})
        pairs = {}
        for r in recs:
            pairs.setdefault(r["pair"], {})[r["side"]] = r
        complete = [p for p in sorted(pairs) if set(pairs[p]) == {"A", "B"}]
        out.append(f"== {workload}: {len(complete)} complete pairs")
        for side in "AB":
            runs = [pairs[p][side] for p in complete]
            errors = sum(1 for r in runs if "error" in r)
            wrong = sum(1 for r in runs if "error" not in r and not r["correct"])
            failed = sum(r.get("failed", 0) for r in runs)
            attempted = sum(r.get("attempted", 0) for r in runs)
            out.append(f"{side}: {errors} runs errored, {wrong} not correct, "
                       f"{failed}/{attempted} ops failed")
        ok = [p for p in complete if all("error" not in pairs[p][s] for s in "AB")]
        names = sorted({k for p in ok for s in "AB" for k in pairs[p][s]["metrics"]})
        for name in names:
            rows = [(p, pairs[p]["A"]["metrics"].get(name), pairs[p]["B"]["metrics"].get(name))
                    for p in ok]
            rows = [r for r in rows if r[1] is not None and r[2] is not None]
            if not rows:
                continue
            direction = better.get(name)
            out.append("")
            out.append(f"{name} ({direction or 'direction unknown'} is better)")
            out.append("  pair  seed  first            A            B")
            for p, a, b in rows:
                r = pairs[p]["A"]
                out.append(f"  {p:>4}  {r['seed']:>4}  {r['first']:>5}  {fmt(a):>11}  {fmt(b):>11}")
            a1, am, a3 = quartiles([a for _, a, _ in rows])
            b1, bm, b3 = quartiles([b for _, _, b in rows])
            out.append(f"  median [q1, q3]  A {fmt(am)} [{fmt(a1)}, {fmt(a3)}]  "
                       f"B {fmt(bm)} [{fmt(b1)}, {fmt(b3)}]")
            iqr = a3 - a1
            rel = f"{iqr / am:.3f}" if am else "n/a"
            change = f"{100 * (bm - am) / am:+.1f}%" if am else "n/a"
            if direction in ("higher", "lower"):
                sign = 1 if direction == "higher" else -1
                wins = sum(1 for _, a, b in rows if sign * (b - a) > 0)
                beyond = "yes" if sign * (bm - am) > iqr else "no"
                out.append(f"  change {change}; B better in {wins}/{len(rows)} pairs; "
                           f"A IQR/median {rel}; B better by more than A's IQR: {beyond}")
            else:
                out.append(f"  change {change}; A IQR/median {rel}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run N alternating pairs, then summarize")
    r.add_argument("--a", required=True, help="checkout A (the baseline)")
    r.add_argument("--b", required=True, help="checkout B (the change)")
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, required=True)
    r.add_argument("--seed", type=int, required=True, help="seed of pair 1; pair i uses seed+i-1")
    r.add_argument("--log", required=True, help="JSON-lines log to create (must not exist)")
    s = sub.add_parser("summary", help="summarize an existing log")
    s.add_argument("log")
    args = ap.parse_args()
    if args.cmd == "run":
        run_pairs(args)
    else:
        print(summarize(read_log(args.log)))


if __name__ == "__main__":
    main()
