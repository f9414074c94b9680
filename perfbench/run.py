#!/usr/bin/env python3
"""graft benchmark: an engine-API point workload and a pipeline batch,
with a traced per-layer run.

Usage (from the repository root):
  python3 perfbench/run.py --workload api_point|pipeline_batch \
      --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (sbt, offline), generates
the seeded ops over the sf0.1 tables in perfbench/data, runs the JVM
harness, checks every output against an independent DuckDB answer, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import Counter, defaultdict

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
# the repository's sf0.1 test tables the benchmark reads (see README.md)
DATA = os.path.join(BENCH, "data", "sf0.1")
sys.path.insert(0, BENCH)

import stats  # noqa: E402
import workload  # noqa: E402

# The heap is fixed at its maximum from the start. Grown from the default
# initial size, it kept expanding through the timed work, and each pipeline
# pass got faster for ten passes (6.7 s down to 3.0 s on a 4-core host), so
# a run's median pass depended on how far up that slope it started.
HEAP = "4g"
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit (the engine's build.sbt sets the same)
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

END_TO_END = {"qps": "1/s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
              "pass_s": "s", "setup_s": "s"}
PER_LAYER = {
    "api.http.roundtrip_ms": "ms", "api.http.wait_ms": "ms", "api.json_us": "us",
    "api.assemble_ms": "ms", "validation.validate_us": "us", "access.resolve_us": "us",
    "planner.plan_us": "us", "planner.cache_hit_ratio": "ratio",
    "planner.strategy.direct": "count", "planner.strategy.cache": "count",
    "sources.load_ms": "ms", "sources.loads_per_op": "count", "sources.cache_get_us": "us",
    "exec.resolve_ms": "ms", "exec.execute_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.task_run_ms": "ms",
    "spark.scheduler_delay_ms": "ms", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.result_bytes": "bytes", "spark.rows_read_per_row_returned": "ratio",
    "ops.construct_ms": "ms", "ops.construct_jobs": "count",
    "ops.execute_ms": "ms", "ops.execute_jobs": "count",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB", "host.canary_s": "s",
    "trace.overhead_ms": "ms", "trace.self_sum_ratio": "ratio",
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, log_path, timeout, env=None):
    """Run a command in its own process group; on timeout the whole group
    is killed and waited for."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ------------------------------------------------------------------ build

def source_stamp():
    """Digest of everything a build and its oracle answers depend on."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"), DATA):
        for dirpath, dirnames, files in os.walk(base):
            dirnames.sort()
            for name in sorted(files):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    for base in (ROOT, BENCH):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            with open(os.path.join(base, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compile engine + harness when any source changed; returns the
    runtime classpath and the source stamp."""
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    log("building engine and harness (sbt, offline)")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    build_log = os.path.join(WORK, "build.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/perfbenchClasspath"],
                  BENCH, build_log, 800, env)
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (exit {rc}):\n{tail(build_log)}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip(), stamp


def duck():
    import duckdb
    con = duckdb.connect()
    for name in sorted(os.listdir(DATA)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{DATA}/{name}'")
    return con


def check_module():
    """The repository's oracle comparator (scripts/check.py), so pipeline
    rows are judged exactly as the correctness gate judges them."""
    path = os.path.join(ROOT, "scripts", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(result):
    return hashlib.sha256(repr(result).encode()).hexdigest()


def jvm(cp, args, out, timeout=JVM_TIMEOUT_S):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS, "-cp", cp, "graft.perfbench.Main", *args, "--out", out]
    jvm_log = os.path.join(out, "jvm.log")
    rc = run_proc(cmd, ROOT, jvm_log, timeout)
    if rc != 0:
        die(f"harness {'timed out' if rc is None else f'exited {rc}'}:\n{tail(jvm_log)}")


def ensure_prepared(cp, stamp):
    """{row: {digest, rows}} of each pipeline row's oracle answer. The first
    run of a build dumps the rows' oracle SQL from the engine and answers it
    with DuckDB (about 10 s), outside every timed section; later runs read
    the cached answers."""
    path = os.path.join(WORK, f"oracles-{stamp[:16]}.json")
    if not os.path.exists(path):
        out = os.path.join(WORK, "prepare")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        ops_path = os.path.join(out, "ops.jsonl")
        with open(ops_path, "w") as f:
            f.write(json.dumps({"rows": workload.PIPELINE_ROWS}) + "\n")
        jvm(cp, ["--workload", "oracle-sql", "--ops", ops_path], out, timeout=300)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            sqls = json.load(f)
        con, rows_of, answers = duck(), check_module().rows_of, {}
        for name, sql in sorted(sqls.items()):
            result = rows_of(con.sql(sql))
            answers[name] = {"digest": digest(result), "rows": len(result[1])}
        with open(path + ".tmp", "w") as f:
            json.dump(answers, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


# ----------------------------------------------------------------- metrics

def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_engine(ops, records):
    """Compare every completed op's reply with its oracle; returns the
    failures as (seq, template, reason)."""
    con = duck()
    answers, fails = {}, []
    for r in records:
        op = ops[r["seq"]]
        if not r["ok"]:
            fails.append((r["seq"], op["template"], r.get("error", "failed")))
            continue
        oracle = op["oracle"]
        expected = None
        if oracle["check"] in ("rows", "count"):
            if op["key"] not in answers:
                cur = con.execute(oracle["sql"])
                answers[op["key"]] = ([d[0] for d in cur.description], cur.fetchall())
            expected = answers[op["key"]]
        err = workload.check_result(oracle, json.loads(r["result"]), expected)
        if err:
            fails.append((r["seq"], op["template"], err))
    return fails


def check_pipeline(out, summary, expected):
    """Each row's output, written once by the harness, against its oracle."""
    con = duck()
    rows_of = check_module().rows_of
    fails, returned = [], {}
    for name, want in sorted(expected.items()):
        if name in summary.get("check_errors", {}):
            fails.append((name, summary["check_errors"][name]))
            continue
        got = rows_of(con.sql(f"SELECT * FROM read_parquet('{out}/check/{name}/*.parquet')"))
        returned[name] = len(got[1])
        if digest(got) != want["digest"]:
            fails.append((name, f"output differs from the oracle ({len(got[1])} rows, "
                                f"oracle {want['rows']})"))
    shutil.rmtree(os.path.join(out, "check"), ignore_errors=True)
    return fails, returned


def end_to_end(workload_name, header, summary, records):
    if workload_name == "pipeline_batch":
        # a batch client waits for a whole pass, so its latency is the pass
        # time and the median latency is pass_s (derived, not a separate
        # measurement); per-row times vary too much between rows of
        # different cost to give a steady percentile over a few passes
        lat = [s * 1000 for s in summary["pass_s"]]
        qps = len(records) / sum(summary["pass_s"])
        pass_s = stats.median(summary["pass_s"])
    else:
        # derived, not measured: the loop is too short for many complete
        # blocks of the op mix, so a pass is the block's time at the
        # measured rate (block / qps)
        lat = [r["ms"] for r in records]
        qps = len(records) / summary["loop_s"]
        pass_s = header["block"] / qps
    return {"qps": qps, "latency_p50_ms": stats.percentile(lat, 0.5),
            "latency_p90_ms": stats.percentile(lat, 0.9), "pass_s": pass_s,
            "setup_s": summary["setup_s"]}


def trace_tables(out):
    """Spans (with Catalyst phases attached), per-op self times per layer,
    and per-op Spark counters."""
    spans = read_jsonl(os.path.join(out, "spans.jsonl"))
    for p in read_jsonl(os.path.join(out, "phases.jsonl")):
        s = stats.attach(spans, f"catalyst.{p['phase']}", p["start_ms"] * 1000,
                         p["end_ms"] * 1000, len(spans))
        if s:
            spans.append(s)
    roots = [s for s in spans if s["name"] == "op"]
    selfs = stats.self_times(spans)
    per_op = defaultdict(lambda: defaultdict(float))
    for s in spans:
        per_op[s["op"]][s["name"]] += selfs[s["id"]] / 1000.0  # ms
    spark = stats.per_op_spark(read_jsonl(os.path.join(out, "jobs.jsonl")),
                               read_jsonl(os.path.join(out, "stages.jsonl")),
                               stats.OpIndex(roots))
    return spans, roots, per_op, spark


def per_layer(workload_name, header, summary, records, out, rows_returned):
    spans, roots, per_op, spark = trace_tables(out)
    n = len(roots)
    wall = {s["op"]: (s["t1"] - s["t0"]) / 1000.0 for s in roots}

    def layer_ms(*names):
        return sum(per_op[op][nm] for op in wall for nm in names) / n

    def spark_mean(key):
        return sum(spark[op][key] for op in wall) / n

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "api.json_us": layer_ms("api.json.parse", "api.json.write") * 1000,
        "api.assemble_ms": layer_ms("api.assemble"),
        "validation.validate_us": layer_ms("validation.validate") * 1000,
        "access.resolve_us": layer_ms("access.resolve") * 1000,
        "planner.plan_us": layer_ms("planner.plan") * 1000,
        "sources.load_ms": layer_ms("sources.load"),
        "sources.loads_per_op": sum(s["name"] == "sources.load" for s in spans) / n,
        "sources.cache_get_us": layer_ms("sources.cache_get") * 1000,
        "exec.resolve_ms": layer_ms("exec.resolve"),
        "exec.execute_ms": layer_ms("exec.execute"),
        "catalyst.analysis_ms": layer_ms("catalyst.analysis"),
        "catalyst.optimization_ms": layer_ms("catalyst.optimization"),
        "catalyst.planning_ms": layer_ms("catalyst.planning"),
        "spark.jobs_per_op": spark_mean("jobs"),
        "spark.stages_per_op": spark_mean("stages"),
        "spark.tasks_per_op": spark_mean("tasks"),
        "spark.task_run_ms": spark_mean("run_ms"),
        "spark.scheduler_delay_ms": spark_mean("scheduler_delay_ms"),
        "spark.shuffle_read_bytes": spark_mean("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": spark_mean("shuffle_write_bytes"),
        "spark.spill_bytes": spark_mean("spill_bytes"),
        "spark.result_bytes": spark_mean("result_bytes"),
        "jvm.gc_ms": summary["gc_ms"],
        "jvm.heap_peak_mb": summary["heap_peak_mb"],
        "host.canary_s": (summary["canary_before_s"] + summary["canary_after_s"]) / 2,
        "trace.self_sum_ratio": 1 - sum(per_op[op]["op"] for op in wall) / sum(wall.values()),
    })
    trace = {"ops": [], "layers_ms_per_op": {}}
    names = sorted({s["name"] for s in spans})
    trace["layers_ms_per_op"] = {nm: layer_ms(nm) for nm in names}
    records_read = sum(spark[op]["records_read"] for op in wall)
    if workload_name == "pipeline_batch":
        rows = header["rows"]
        jobs = read_jsonl(os.path.join(out, "jobs.jsonl"))
        by_name = defaultdict(list)
        for s in spans:
            by_name[s["name"]].append(s)
        breakdown = []
        for root in sorted(roots, key=lambda s: s["op"]):
            row = {"row": rows[root["op"] % len(rows)]}
            for phase in ("construct", "execute"):
                sp = next(s for s in by_name[f"ops.{phase}"] if s["op"] == root["op"])
                row[f"{phase}_ms"] = (sp["t1"] - sp["t0"]) / 1000.0
                row[f"{phase}_jobs"] = sum(sp["t0"] <= j["submit_ms"] * 1000 <= sp["t1"]
                                           for j in jobs)
            breakdown.append(row)
        trace["rows"] = breakdown
        for k in ("construct_ms", "construct_jobs", "execute_ms", "execute_jobs"):
            m[f"ops.{k}"] = float(sum(r[k] for r in breakdown))
        returned = sum(rows_returned.values())
        # the traced run's pass 0 is untraced, pass 1 traced
        ms = defaultdict(float)
        for r in records:
            ms[r["pass"]] += r["construct_ms"] + r["execute_ms"]
        m["trace.overhead_ms"] = (ms[1] - ms[0]) / len(rows)
    else:
        replay = {r["seq"]: r for r in read_jsonl(os.path.join(out, "replay.jsonl"))}
        returned = sum(r["rows"] for r in replay.values())
        keys = sum(r["keys"] for r in replay.values())
        strategies = Counter(r["strategy"] for r in replay.values() if r["strategy"])
        m["planner.cache_hit_ratio"] = sum(r["hits"] for r in replay.values()) / keys if keys else 0.0
        m["planner.strategy.direct"] = float(strategies["direct"])
        m["planner.strategy.cache"] = float(strategies["cache"])
        m["trace.overhead_ms"] = sum(wall[s] - replay[s]["untraced_ms"] for s in wall) / n
        loop = {r["seq"]: r["ms"] for r in records}
        m["api.http.roundtrip_ms"] = sum(loop[s] for s in wall) / n
        m["api.http.wait_ms"] = sum(loop[s] - wall[s] for s in wall) / n
        for op in sorted(wall):
            trace["ops"].append({"seq": op, "wall_ms": wall[op],
                                 "untraced_ms": replay[op]["untraced_ms"],
                                 "self_ms": dict(per_op[op]), "spark": dict(spark[op])})
    m["spark.rows_read_per_row_returned"] = records_read / returned if returned else 0.0
    trace["metrics"] = m
    with open(os.path.join(out, "trace.json"), "w") as f:
        json.dump(trace, f, indent=1, sort_keys=True)
    return m


def generator_record(args, header, ops, records, returned):
    """Seed, op mix, measured repeat share, rows returned per op and the
    cache hit/partial/miss split of the ops the run completed."""
    rec = {"workload": args.workload, "seed": args.seed}
    if args.workload == "pipeline_batch":
        rec.update(row_order=header["rows"], rows_returned=returned)
        return rec
    executed = [ops[r["seq"]] for r in records]
    rows = defaultdict(list)
    for r in records:
        reply = json.loads(r["result"]) if r["ok"] else {}
        if "data" in reply:
            rows[ops[r["seq"]]["template"]].append(len(reply["data"]))
    rec.update(template_mix=dict(Counter(op["template"] for op in executed)),
               repeat_share=workload.repeat_share(executed),
               cache_split=workload.cache_split(executed, header["cache_keys"]),
               rows_per_op={t: sum(v) / len(v) for t, v in sorted(rows.items())})
    return rec


def cache_rows(keys):
    """What the in-memory P0 cache holds: the customer rows of `keys`,
    under the TpchCatalog apiNames."""
    if not keys:
        return []
    cur = duck().execute(
        "SELECT c_custkey AS custkey, c_name AS name, c_nationkey AS nationkey, "
        "c_acctbal AS acctbal, c_mktsegment AS mktsegment FROM customer "
        "WHERE c_custkey IN (SELECT unnest(?))", [keys])
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def host_cpu():
    """Aggregate CPU jiffies from /proc/stat (the 8th field is time stolen
    by the hypervisor), or None where there is no such file."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def result_line(fails, attempted, metrics, units):
    return {"correct": not fails, "attempted": attempted, "failed": len(fails),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workload.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"engine sources not found under {ROOT}/src/main/scala")
    os.makedirs(WORK, exist_ok=True)
    cp, stamp = ensure_build()
    expected = ensure_prepared(cp, stamp)

    out = os.path.join(WORK, "last", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    header, ops = workload.generate(args.workload, args.seed)
    ops_path = os.path.join(out, "ops.jsonl")
    with open(ops_path, "w") as f:
        jvm_header = header
        if "cache_keys" in header:
            jvm_header = dict(header, cache_rows=cache_rows(header["cache_keys"]))
        f.write(json.dumps(jvm_header) + "\n")
        for op in ops:
            f.write(json.dumps({k: op[k] for k in ("kind", "template", "body")}) + "\n")

    cpu0 = host_cpu()
    jvm(cp, ["--workload", args.workload, "--data", DATA, "--ops", ops_path,
             "--seconds", str(args.seconds), "--trace", str(args.trace)], out)
    cpu1 = host_cpu()
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    records = read_jsonl(os.path.join(out, "results.jsonl"))
    if not records:
        die("the harness completed no ops")

    returned = {}
    if args.workload == "pipeline_batch":
        fails, returned = check_pipeline(out, summary, expected)
        fails += [(r["row"], r["error"]) for r in records if not r["ok"]]
    else:
        fails = check_engine(ops, records)
    attempted = len(records)
    gen = generator_record(args, header, ops, records, returned)
    with open(os.path.join(out, "generator.json"), "w") as f:
        json.dump(gen, f, indent=1, sort_keys=True)
    print(f"generator: {json.dumps(gen, sort_keys=True)}")
    for f in fails[:10]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    if args.trace:
        metrics, units = per_layer(args.workload, header, summary, records, out, returned), PER_LAYER
    else:
        metrics, units = end_to_end(args.workload, header, summary, records), END_TO_END
    steal = ""
    if cpu0 and cpu1 and sum(cpu1) > sum(cpu0):
        steal = f"; cpu steal {100 * (cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0)):.1f}%"
    print(f"host canary: before {summary['canary_before_s']:.3f}s, "
          f"after {summary['canary_after_s']:.3f}s{steal}; setup {summary['setup_s']:.3f}s; "
          f"samples {attempted}")
    print(json.dumps(result_line(fails, attempted, metrics, units)))


if __name__ == "__main__":
    main()
