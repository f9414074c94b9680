#!/usr/bin/env python3
"""Self-test for same_outputs.py on canned parquet dumps.

Pins that the diff passes two dumps holding the same rows in another
file order, and fails each kind of difference: a changed value, a
widened column type, a query present on one side only, and an
oracle_sql.json that differs by one byte.

Usage: python3 scripts/same_outputs_selftest.py   (exit 0 = diff behaves)
"""
import json, os, shutil, subprocess, sys, tempfile
import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
SAME = os.path.join(HERE, "same_outputs.py")


def run_same(a, b):
    r = subprocess.run([sys.executable, SAME, a, b],
                       capture_output=True, text=True)
    return r.returncode, r.stdout + r.stderr


def dump(root, queries, oracle):
    """Write a Verify-shaped dump: one parquet dir per query + oracle_sql.json."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    for name, sql in queries.items():
        d = os.path.join(root, name)
        os.makedirs(d)
        duckdb.sql(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
    with open(os.path.join(root, "oracle_sql.json"), "w") as f:
        f.write(oracle)


def main():
    base = {"q1": "SELECT * FROM (VALUES (1::BIGINT, 'a'), (2::BIGINT, 'b')) t(id, v)",
            "q2": "SELECT 7::BIGINT AS n"}
    oracle = json.dumps({"q1": "SELECT 1", "q2": "SELECT 2"})
    with tempfile.TemporaryDirectory() as tmp:
        a, b = os.path.join(tmp, "a"), os.path.join(tmp, "b")
        dump(a, base, oracle)

        # Case 1: same rows in another file order -> must PASS
        dump(b, dict(base, q1="SELECT * FROM (VALUES (2::BIGINT, 'b'), "
                               "(1::BIGINT, 'a')) t(id, v)"), oracle)
        code, out = run_same(a, b)
        assert code == 0, f"same rows must pass, got:\n{out}"

        # Case 2: one changed value -> must FAIL
        dump(b, dict(base, q1="SELECT * FROM (VALUES (1::BIGINT, 'a'), "
                               "(2::BIGINT, 'c')) t(id, v)"), oracle)
        code, out = run_same(a, b)
        assert code != 0 and "q1: first diff" in out, f"value diff missed:\n{out}"

        # Case 3: same value, widened type -> must FAIL
        dump(b, dict(base, q2="SELECT 7::HUGEINT AS n"), oracle)
        code, out = run_same(a, b)
        assert code != 0 and "q2: schema" in out, f"type diff missed:\n{out}"

        # Case 4: a query on one side only -> must FAIL, either direction
        dump(b, {"q1": base["q1"]}, oracle)
        for x, y in ((a, b), (b, a)):
            code, out = run_same(x, y)
            assert code != 0 and "q2: only in" in out, f"missing dir missed:\n{out}"

        # Case 5: oracle_sql.json one byte off -> must FAIL
        dump(b, base, oracle + " ")
        code, out = run_same(a, b)
        assert code != 0 and "oracle_sql.json" in out, f"oracle diff missed:\n{out}"
    print("same_outputs_selftest: all 5 cases pass")


if __name__ == "__main__":
    main()
