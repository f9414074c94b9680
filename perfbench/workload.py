"""Seeded op generators for the three workloads, and the independent
answers the benchmark checks the engine's outputs against.

Every op carries the exact JSON body the engine receives and, for queries,
a DuckDB SQL oracle over the same parquet tables. The same seed always
yields the same op sequence.
"""
import json
import math
import random
from collections import Counter, defaultdict
from datetime import date, datetime, timedelta

N_CUSTOMERS = 15000  # customer rows at sf0.1 (keys 0 .. 14999)

# Rows of SparkEntry.queries the pipeline workload runs: the first is bound
# by Spark job count (eager construction-phase checkpoints), the other four
# by scan or compute. A pass takes about 4 s on 4 cores. The heavier rows
# (criteria matrix, simhash and cosine incremental, media dedup rates,
# IVF-PQ indexed, winnow removal, minhash, tokenize ids, media resize)
# would make it about 41 s and do not fit the per-run time budget.
PIPELINE_ROWS = [
    "d_pipeline_pack",
    "d_text_analysis", "d_pii_scrub", "d_quality_classifier", "d_sample_hash",
]

# api_point mix: every block of 20 ops holds exactly these counts, shuffled
API_BLOCK = {"byids": 6, "topk": 4, "count": 3, "sqlonly": 3, "masked": 2,
             "validate": 1, "reload": 1}
BYIDS_OUTCOMES = ["hit", "partial", "miss"]
# seconds of untimed traffic before the timed loop, so it starts warm
API_WARM_LOOP_S = 6
# seconds of untimed passes (the check pass included) before the timed ones
PIPELINE_WARM_S = 10
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

MASKED_NAME = """CASE WHEN length(c.c_name) <= 2 THEN '***'
       ELSE substring(c.c_name, 1, 1) || repeat('*', length(c.c_name) - 2)
         || substring(c.c_name, length(c.c_name), 1) END"""


def _iso(d):
    return d.strftime("%Y-%m-%dT%H:%M:%SZ")


def _ts(d):
    return d.strftime("TIMESTAMP '%Y-%m-%d %H:%M:%S'")


def _price(rng, lo, hi):
    # half a cent off the 2-decimal grid the data lives on: never a tie
    return round(rng.uniform(lo, hi), 2) + 0.005


def _op(kind, template, params, definition=None, roles=None, oracle=None):
    body = None
    if definition is not None:
        req = {"definition": definition}
        if roles:
            req["context"] = {"roles": {"user": roles}}
        body = json.dumps(req, sort_keys=True)
    return {"kind": kind, "template": template,
            "key": f"{kind}:{template}:{json.dumps(params, sort_keys=True)}",
            "body": body, "oracle": oracle}


# ---------------------------------------------------------------- api_point

def byids(ids):
    in_list = ", ".join(str(i) for i in ids)
    return _op("query", "byids", ids, {
        "from": "customer", "byIds": ids,
        "columns": ["custkey", "name", "acctbal", "mktsegment"]}, oracle={
        "check": "rows", "ordered": False, "sql":
        "SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal, "
        f"c_mktsegment AS mktsegment FROM customer WHERE c_custkey IN ({in_list})"})


def topk(status, price, k):
    return _op("query", "topk", [status, price, k], {
        "from": "orders",
        "columns": ["orderkey", "custkey", "totalprice", "orderdate"],
        "filters": [{"column": "orderstatus", "operator": "=", "value": status},
                    {"column": "totalprice", "operator": ">", "value": price}],
        "orderBy": [{"column": "totalprice", "direction": "desc"},
                    {"column": "orderkey", "direction": "asc"}],
        "limit": k}, oracle={
        "check": "rows", "ordered": True, "sql":
        "SELECT o_orderkey AS orderkey, o_custkey AS custkey, "
        "o_totalprice AS totalprice, o_orderdate AS orderdate FROM orders "
        f"WHERE o_orderstatus = '{status}' AND o_totalprice > {price!r} "
        f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}"})


def count(d0, d1, priority):
    return _op("query", "count", [_iso(d0), _iso(d1), priority], {
        "from": "orders", "executeMode": "count",
        "filters": [{"column": "orderdate", "operator": "between",
                     "value": {"from": _iso(d0), "to": _iso(d1)}},
                    {"column": "orderpriority", "operator": "=", "value": priority}]},
        oracle={"check": "count", "sql":
                f"SELECT count(*) FROM orders WHERE o_orderdate BETWEEN {_ts(d0)} "
                f"AND {_ts(d1)} AND o_orderpriority = '{priority}'"})


def sqlonly(custkey):
    return _op("query", "sqlonly", [custkey], {
        "from": "orders", "executeMode": "sql-only",
        "columns": ["orderkey", "totalprice"],
        "filters": [{"column": "custkey", "operator": "=", "value": custkey}],
        "orderBy": [{"column": "orderkey"}], "limit": 10},
        oracle={"check": "sql", "params": [custkey], "table": "orders"})


def masked(first_key):
    return _op("query", "masked", [first_key], {
        "from": "orders", "columns": ["orderkey", "totalprice"],
        "joins": [{"table": "customer", "columns": ["name"]}],
        "filters": [{"column": "orderkey", "operator": ">=", "value": first_key}],
        "orderBy": [{"column": "orderkey"}], "limit": 20}, roles=["analyst"],
        oracle={"check": "rows", "ordered": True, "sql":
                "SELECT o.o_orderkey AS orderkey, CAST(0 AS INT) AS totalprice, "
                f"{MASKED_NAME} AS name FROM orders o LEFT JOIN customer c "
                f"ON o.o_custkey = c.c_custkey WHERE o.o_orderkey >= {first_key} "
                "ORDER BY o.o_orderkey LIMIT 20"})


def _api_fresh(template, rng, cache, outcome="partial"):
    """A fresh op; `cache` is (cached keys, uncached keys) and `outcome`
    says which of them a byIds lookup draws from."""
    if template == "byids":
        k = rng.randint(2, 4)
        hits = {"hit": k, "partial": rng.randint(1, k - 1), "miss": 0}[outcome]
        return byids(sorted(rng.sample(cache[0], hits) + rng.sample(cache[1], k - hits)))
    if template == "topk":
        return topk(rng.choice("FOP"), _price(rng, 300000, 495000), rng.randint(5, 20))
    if template == "count":
        d0 = datetime(1995, 1, 1) + timedelta(days=rng.randint(0, 2300))
        return count(d0, d0 + timedelta(days=rng.randint(7, 90)), rng.choice(PRIORITIES))
    if template == "sqlonly":
        return sqlonly(rng.randrange(N_CUSTOMERS))
    if template == "masked":
        return masked(rng.randrange(150000 - 20))
    raise ValueError(template)


def _api_sequence(rng, n_ops, cache):
    """Blocks of the API_BLOCK mix in a seeded order. Every second
    occurrence of a template repeats an earlier (template, parameters) pair,
    so half the ops are repeats; byIds lookups cycle through full cache
    hits, partial hits and misses. Fixing these shares per block keeps the
    work of a run the same from seed to seed."""
    block = [t for t, n in API_BLOCK.items() for _ in range(n)]
    seen, occurrences, ops = defaultdict(list), Counter(), []
    while len(ops) < n_ops:
        rng.shuffle(block)
        for t in block:
            n = occurrences[t]
            occurrences[t] += 1
            if t == "reload":
                ops.append(_op("reload", "reload", None, oracle={"check": "ack"}))
                continue
            outcome = BYIDS_OUTCOMES[n // 2 % 3]
            slot = (t, outcome if t == "byids" else None)
            if n % 2 == 1 and seen[slot]:
                ops.append(rng.choice(seen[slot]))
                continue
            op = _api_fresh("topk" if t == "validate" else t, rng, cache, outcome)
            if t == "validate":
                op = dict(op, kind="validate", template="validate",
                          key="validate" + op["key"][len("query"):],
                          oracle={"check": "ack"})
            seen[slot].append(op)
            ops.append(op)
    return ops[:n_ops]


def api_point(seed, n_ops=4000, n_warm=1000):
    """Point-query traffic. The op list starts with `n_warm` ops for the
    untimed warm loop (header["warm_ops"]); the timed loop takes the rest.
    header["warmup"] holds the ops each stack set-up round sends."""
    rng = random.Random(f"api_point:{seed}")
    cached = sorted(rng.sample(range(N_CUSTOMERS), N_CUSTOMERS // 2))
    cache = (cached, sorted(set(range(N_CUSTOMERS)) - set(cached)))
    ops = _api_sequence(rng, n_ops, cache)
    warm_rng = random.Random(f"api_point:warmup:{seed}")
    warmup = [_api_fresh(t, warm_rng, cache) for t in ["byids", "topk", "masked"]]
    header = {"cache_keys": cached, "warmup": warmup, "warm_ops": n_warm,
              "warm_seconds": API_WARM_LOOP_S, "block": sum(API_BLOCK.values())}
    return header, _api_sequence(warm_rng, n_warm, cache) + ops


# ----------------------------------------------------------- pipeline_batch

def pipeline_batch(seed):
    """The fixed row list, in a seeded order used by every pass."""
    rng = random.Random(f"pipeline_batch:{seed}")
    rows = list(PIPELINE_ROWS)
    rng.shuffle(rows)
    return {"rows": rows, "block": len(rows), "warm_seconds": PIPELINE_WARM_S}, []


GENERATORS = {"api_point": api_point, "pipeline_batch": pipeline_batch}


def generate(workload, seed):
    return GENERATORS[workload](seed)


def repeat_share(ops):
    """Share of ops whose (template, parameters) pair already occurred
    earlier in `ops`; reloads carry no parameters and are left out."""
    seen, repeats, n = set(), 0, 0
    for op in ops:
        if op["kind"] == "reload":
            continue
        n += 1
        repeats += op["key"] in seen
        seen.add(op["key"])
    return repeats / n if n else 0.0


def cache_split(ops, cache_keys):
    """Counts of byIds ops whose keys are all, some or none cached."""
    cached = set(cache_keys)
    split = {"hit": 0, "partial": 0, "miss": 0}
    for op in ops:
        if op["template"] == "byids":
            ids = json.loads(op["body"])["definition"]["byIds"]
            n = sum(i in cached for i in ids)
            split["hit" if n == len(ids) else "miss" if n == 0 else "partial"] += 1
    return split


# ------------------------------------------------------------------ checks

def _norm(v):
    if isinstance(v, str) and len(v) >= 16 and v[4] == "-" and v[10] == "T":
        try:
            return datetime.fromisoformat(v.replace("Z", "+00:00")).replace(tzinfo=None)
        except ValueError:
            return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, date):
        return datetime(v.year, v.month, v.day)
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        return float(v)
    return v


def _same(a, b):
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _row_key(row):
    return tuple(str(_norm(row[k])) for k in sorted(row))


def check_result(oracle, received, expected):
    """None when `received` (the engine's reply, parsed JSON) matches the
    oracle, else a one-line reason. `expected` is the oracle query's
    (columns, rows) for row and count checks."""
    kind = oracle["check"]
    if kind == "ack":
        return None if isinstance(received, dict) else f"unexpected reply {received!r}"
    if kind == "sql":
        if received.get("kind") != "sql" or oracle["table"] not in received.get("sql", ""):
            return "sql-only reply lacks the generated SQL"
        got = [_norm(p) for p in received.get("params", [])]
        missing = [p for p in oracle["params"] if _norm(p) not in got]
        return f"params {got} lack {missing}" if missing else None
    if kind == "count":
        want = expected[1][0][0]
        got = received.get("count")
        return None if got == want else f"count {got} != {want}"
    cols, rows = expected
    want = [dict(zip(cols, r)) for r in rows]
    got = received.get("data")
    if received.get("kind") != "data" or got is None:
        return f"expected a data reply, got kind {received.get('kind')!r}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    if not oracle["ordered"]:
        got, want = sorted(got, key=_row_key), sorted(want, key=_row_key)
    for i, (g, w) in enumerate(zip(got, want)):
        if set(g) != set(w):
            return f"row {i}: columns {sorted(g)} != {sorted(w)}"
        bad = [k for k in w if not _same(g[k], w[k])]
        if bad:
            return f"row {i}: {bad[0]} {g[bad[0]]!r} != {w[bad[0]]!r}"
    return None
