#!/usr/bin/env python3
"""Self-test for ab_pairs.py on canned benchmark outputs.

Builds two stand-in checkouts whose perfbench/run.py prints a canned
result line (a value per seed), runs ab_pairs.py over them and checks the
run order, the run length, the log and the summary: medians, quartiles,
wins, the IQR rule, the handling of a run that prints no result, and the
refusal of a log that already exists.

Usage: python3 scripts/ab_pairs_selftest.py   (exit 0 = ab_pairs behaves)
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
AB = os.path.join(HERE, "ab_pairs.py")
sys.path.insert(0, HERE)
import ab_pairs  # noqa: E402

# A's qps by seed, and B's: B is better in 3 of 4 pairs
QPS = {"A": {1: 20.0, 2: 22.0, 3: 24.0, 4: 30.0}, "B": {1: 30.0, 2: 31.0, 3: 32.0, 4: 29.0}}
P50 = {"A": 10.0, "B": 9.0}
# the run length the stand-in BENCHMARK.json sets; every run must get it
RUN_SECONDS = 7

FAKE_RUN = '''import json, sys
side, qps, p50, order_log = {side!r}, {qps!r}, {p50!r}, {order_log!r}
seed = int(sys.argv[sys.argv.index("--seed") + 1])
seconds = sys.argv[sys.argv.index("--seconds") + 1]
with open(order_log, "a") as f:
    f.write(f"{{side}}{{seed}}:{{seconds}}\\n")
if side == "B" and seed == 5:
    print("perfbench: build failed", file=sys.stderr)
    sys.exit(2)
print("generator: {{}}")
print("host canary: before 0.500s, after 0.600s; setup 12.000s; samples 100")
print(json.dumps({{"correct": True, "attempted": 100, "failed": 0, "metrics": {{
    "qps": {{"value": qps[seed], "unit": "1/s"}},
    "latency_p50_ms": {{"value": p50, "unit": "ms"}}}}}}))
'''


def checkout(root, side, order_log):
    d = os.path.join(root, side)
    os.makedirs(os.path.join(d, "perfbench"))
    qps = {**QPS[side], 5: 1.0}
    with open(os.path.join(d, "perfbench", "run.py"), "w") as f:
        f.write(FAKE_RUN.format(side=side, qps=qps, p50=P50[side], order_log=order_log))
    with open(os.path.join(d, "BENCHMARK.json"), "w") as f:
        json.dump({"run_seconds": RUN_SECONDS, "end_to_end": [{"name": "qps", "better": "higher"},
                                  {"name": "latency_p50_ms", "better": "lower"}]}, f)
    return d


def main():
    # parse_result: the last result object wins; other JSON and text is skipped
    text = 'noise\n{"x": 1}\nhost canary: before 1s\n{"metrics": {}, "correct": true}\n'
    result, canary = ab_pairs.parse_result(text)
    assert result == {"metrics": {}, "correct": True}, result
    assert canary == "host canary: before 1s", canary
    assert ab_pairs.parse_result("no result\n") == (None, None)

    with tempfile.TemporaryDirectory() as tmp:
        order_log = os.path.join(tmp, "order.txt")
        a, b = checkout(tmp, "A", order_log), checkout(tmp, "B", order_log)
        log = os.path.join(tmp, "ab.jsonl")
        p = subprocess.run([sys.executable, AB, "run", "--a", a, "--b", b, "--workload",
                            "api_point", "--pairs", "5", "--seed", "1", "--log", log],
                           capture_output=True, text=True)
        assert p.returncode == 0, p.stderr
        with open(order_log) as f:
            order = f.read().split()
        # the first side alternates pair by pair, and every run lasts the
        # benchmark's run_seconds
        expected = ["A1", "B1", "B2", "A2", "A3", "B3", "B4", "A4", "A5", "B5"]
        assert order == [f"{r}:{RUN_SECONDS}" for r in expected], order

        recs = ab_pairs.read_log(log)
        assert len(recs) == 10
        bad = [r for r in recs if "error" in r]
        assert [(r["side"], r["seed"]) for r in bad] == [("B", 5)], bad
        assert "build failed" in bad[0]["error"]
        good = next(r for r in recs if r["side"] == "A" and r["seed"] == 2)
        assert good["metrics"] == {"qps": 22.0, "latency_p50_ms": 10.0}, good
        assert good["first"] == "B" and good["position"] == 1, good

        out = p.stdout
        assert "== api_point: 5 complete pairs" in out, out
        assert "B: 1 runs errored, 0 not correct, 0/400 ops failed" in out, out
        # qps over the 4 pairs where both sides ran: A 20 22 24 30, B 30 31 32 29
        assert "median [q1, q3]  A 23 [21.5, 25.5]  B 30.5 [29.75, 31.25]" in out, out
        assert ("change +32.6%; B better in 3/4 pairs; A IQR/median 0.174; "
                "B better by more than A's IQR: yes") in out, out
        # a lower-is-better metric: B's 9 beats A's 10 in every pair, by more
        # than A's IQR of 0
        assert ("change -10.0%; B better in 4/4 pairs; A IQR/median 0.000; "
                "B better by more than A's IQR: yes") in out, out

        # the summary subcommand reads the same log to the same text
        s = subprocess.run([sys.executable, AB, "summary", log], capture_output=True, text=True)
        assert s.returncode == 0 and s.stdout == out, s.stdout

        # a second session on the same log is refused before it runs anything:
        # its pair numbers would collide with the first session's
        with open(log) as f:
            before = f.read()
        again = subprocess.run([sys.executable, AB, "run", "--a", a, "--b", b, "--workload",
                                "api_point", "--pairs", "2", "--seed", "50", "--log", log],
                               capture_output=True, text=True)
        assert again.returncode != 0 and "exists" in again.stderr, again.stderr
        with open(log) as f:
            assert f.read() == before
        with open(order_log) as f:
            assert f.read().split() == order
    print("ab_pairs_selftest: all cases pass")


if __name__ == "__main__":
    main()
