#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client driving the engine at
local[4] on the sf0.1 fixtures, timed end to end and, in a traced run, per
layer. See README.md in this directory for the workloads and metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload interactive|pipeline|mutate \
        --seed N --seconds S --trace 0|1

The last line of stdout is one JSON object:
    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
with every end-to-end metric when --trace 0 and every per-layer metric when
--trace 1. Exits non-zero without printing a result when the engine
sources, the fixtures or the toolchain are missing.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data")
SF = "sf0.1"
CORES = 4  # matches perfbench.Harness.Cores
RUN_DEADLINE_S = 170  # a run must end within 180 s
BUILD_DEADLINE_S = 840

# Per-workload sample: the middle key of each of this many equal strata of
# the pool ranked by frozen warm latency (see README.md "Samples").
STRATA = {"interactive": 8, "pipeline": 2}
# Warm-up: pass 0 is the cold call; per-pass time stops falling after the
# third warm pass (README.md "Warm-up").
WARM_PASSES = 4
MUTATE_WARM_CYCLES = 2
# The timed part is a fixed number of whole passes (statement cycles for
# mutate): --seconds divided by the nominal pass time below. A fixed count
# keeps the percentiles at fixed ranks (README.md "Run shape").
PASS_S = {"interactive": 3.0, "pipeline": 1.85, "mutate": 4.4}
# Reads per write, fastest kind first: the median then falls in the middle
# of the point reads' latencies and the tail in the middle of the join
# reads' and MV refreshes' (README.md "Samples").
READS = (("mv_rollup", 4), ("point", 3), ("join_agg", 2))

JVM_FLAGS = [
    "-Xmx4g", "-XX:+UseG1GC", "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.ui.enabled=false", "-Dlog4j2.level=WARN",
] + [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _stamp():
    """Content hash of everything the harness build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness (once per source state) and
    return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine sources not found ({need}); run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = _stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = _spawn(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "export perfbench/Runtime/fullClasspath"],
                      HERE, out, BUILD_DEADLINE_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def _spawn(cmd, cwd, out, timeout):
    """Run a child in its own process group; on timeout kill the whole
    group and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        return -9


def java(cp, main, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", cp, main] + args)
    with open(os.path.join(work, "harness.log"), "w") as out:
        code = _spawn(cmd, ROOT, out, timeout)
    shutil.rmtree(tmp, ignore_errors=True)
    return code


# ------------------------------------------------------------ workloads

def read_tsv(path):
    """Rows of a tab-separated file with a header; '#' lines are notes."""
    with open(path) as f:
        lines = [l.rstrip("\n") for l in f if l.strip() and not l.startswith("#")]
    head = lines[0].split("\t")
    return [dict(zip(head, l.split("\t"))) for l in lines[1:]]


def sample(pool, strata):
    """The key at the middle of each of `strata` equal strata of the pool
    ranked by frozen warm latency, plus (pipeline pool) the index-backed key
    with the cheapest frozen cold call, so every run pays one build-once
    index build in its set-up. PairIndex consumers are left out: the
    PairIndex build alone (25 s) would nearly double a run's set-up and
    break the benchmark's time budget (README.md "Time budget")."""
    pool = [r for r in pool if r["index"] != "graft_pairidx"]
    ranked = sorted(pool, key=lambda r: (float(r["warm_s"]), r["key"]))
    bounds = [round(i * len(ranked) / strata) for i in range(strata + 1)]
    keys = [ranked[(bounds[i] + bounds[i + 1] - 1) // 2]["key"] for i in range(strata)]
    indexed = sorted((r for r in ranked if r["index"] != "-" and r["key"] not in keys),
                     key=lambda r: (float(r["cold_s"]), r["key"]))
    return keys + [r["key"] for r in indexed[:1]]


def timed_passes(workload, seconds):
    return max(1, round(seconds / PASS_S[workload]))


def key_plan(workload, rng, seconds):
    """Warm-up passes, then timed passes, each in a new seeded order."""
    pool = read_tsv(os.path.join(HERE, "pools", f"{workload}.tsv"))
    keys = sample(pool, STRATA[workload])
    plan = []
    for p in range(WARM_PASSES + timed_passes(workload, seconds)):
        order = keys[:]
        rng.shuffle(order)
        phase = "warm" if p < WARM_PASSES else "timed"
        plan += [(phase, p, "key", k, "") for k in order]
    return plan


LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]
ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]
MV = ("CREATE MATERIALIZED VIEW mv_flags AS SELECT l_returnflag, l_linestatus, "
      "count(1) AS cnt, sum(l_quantity) AS sum_qty, "
      "sum(l_extendedprice) AS sum_price FROM wh_lineitem "
      "GROUP BY l_returnflag, l_linestatus")
MV_READS = [
    "SELECT l_returnflag, count(1) AS n, sum(l_quantity) AS q FROM wh_lineitem "
    "GROUP BY l_returnflag ORDER BY l_returnflag",
    "SELECT l_linestatus, sum(l_extendedprice) AS p FROM wh_lineitem "
    "GROUP BY l_linestatus ORDER BY l_linestatus",
    "SELECT l_returnflag, l_linestatus, count(1) AS n FROM wh_lineitem "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
]


def read_stmt(rng, name):
    if name == "mv_rollup":
        return ("read_mv", name, rng.choice(MV_READS))
    if name == "join_agg":
        # One year of orders (they span 1995-01 to 2001-08), so every join
        # read does about the same work.
        day = rng.randrange(0, 2000)
        start = "TIMESTAMP '1995-01-01 00:00:00' + INTERVAL"
        return ("read", name,
                f"SELECT o_orderpriority, count(1) AS n, sum(l_extendedprice) AS rev "
                f"FROM wh_lineitem JOIN wh_orders ON l_orderkey = o_orderkey "
                f"WHERE o_orderdate >= {start} {day} DAYS "
                f"AND o_orderdate < {start} {day + 365} DAYS "
                f"GROUP BY o_orderpriority ORDER BY o_orderpriority")
    return ("read", name,
            f"SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_discount "
            f"FROM wh_lineitem WHERE l_orderkey = {rng.randrange(150000)} "
            f"ORDER BY l_linenumber, l_partkey, l_quantity, l_discount")


def mutate_ops(rng, cycle):
    """One cycle of the write stream: a DML statement touching ~0.1% of the
    rows, the MV refresh when the statement wrote the MV's base table, then
    the READS in seeded order. Each entry is (kind, name, Spark statement,
    DuckDB statements)."""
    r = rng.randrange(1000)
    lines = rng.randint(1, 4)
    if cycle % 3 == 0:
        stmt = (f"UPDATE wh_lineitem SET l_quantity = l_quantity + 1, "
                f"l_discount = l_discount * 0.5 WHERE l_orderkey % 1000 = {r}")
        dml = ("dml", "update_lineitem", stmt, [stmt])
    elif cycle % 3 == 1:
        stmt = (f"DELETE FROM wh_lineitem WHERE l_orderkey % 1000 = {r} "
                f"AND l_linenumber <= {lines}")
        dml = ("dml", "delete_lineitem", stmt, [stmt])
    else:
        src = (f"SELECT o_orderkey, o_custkey, o_orderstatus, "
               f"o_totalprice + 1.5 AS o_totalprice, o_orderdate, o_orderpriority "
               f"FROM wh_orders WHERE o_orderkey % 1000 = {r} "
               f"UNION ALL SELECT o_orderkey + {1000000 * (cycle + 1)} AS o_orderkey, "
               f"o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
               f"FROM wh_orders WHERE o_orderkey % 1000 = {(r + 500) % 1000} "
               f"AND o_orderkey < 1000000")
        # DuckDB 1.0 has no MERGE: stage the source, update the matches,
        # insert the rest.
        dml = ("dml", "merge_orders",
               f"MERGE INTO wh_orders t USING ({src}) s ON t.o_orderkey = s.o_orderkey "
               f"WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice "
               f"WHEN NOT MATCHED THEN INSERT *",
               [f"CREATE OR REPLACE TEMP TABLE s AS {src}",
                "UPDATE wh_orders SET o_totalprice = s.o_totalprice FROM s "
                "WHERE wh_orders.o_orderkey = s.o_orderkey",
                "INSERT INTO wh_orders SELECT s.* FROM s WHERE NOT EXISTS "
                "(SELECT 1 FROM wh_orders t WHERE t.o_orderkey = s.o_orderkey)",
                "DROP TABLE s"])
    ops = [dml]
    if dml_table(dml[1]) == "wh_lineitem":
        ops.append(("mv_refresh", "refresh_mv", "REFRESH MATERIALIZED VIEW mv_flags", []))
    reads = [read_stmt(rng, name) for name, count in READS for _ in range(count)]
    rng.shuffle(reads)
    return ops + [(k, n, s, [s]) for k, n, s in reads]


def mutate_plan(rng, seconds):
    """Seeding, the MV and the first cycles are set-up; the rest of the
    statement stream is timed."""
    plan = [
        ("warm", 0, "seed", "seed_lineitem",
         "CREATE TABLE wh_lineitem USING parquet AS SELECT * FROM lineitem",
         ["CREATE TABLE wh_lineitem AS SELECT * FROM lineitem"]),
        ("warm", 0, "seed", "seed_orders",
         "CREATE TABLE wh_orders USING parquet AS SELECT * FROM orders",
         ["CREATE TABLE wh_orders AS SELECT * FROM orders"]),
        ("warm", 0, "mv_create", "create_mv", MV, []),
    ]
    for c in range(MUTATE_WARM_CYCLES + timed_passes("mutate", seconds)):
        phase = "warm" if c < MUTATE_WARM_CYCLES else "timed"
        plan += [(phase, c + 1) + op for op in mutate_ops(rng, c)]
    return plan


def write_plan(plan, path):
    with open(path, "w") as f:
        for row in plan:
            phase, p, kind, name, stmt = row[:5]
            assert "\t" not in stmt and "\n" not in stmt
            f.write(f"{phase}\t{p}\t{kind}\t{name}\t{stmt}\n")


# ------------------------------------------------------------- checking

def load_expected():
    return {r["key"]: r for r in read_tsv(os.path.join(HERE, "expected", f"{SF}.tsv"))}


def check_keys(records, expected):
    """Row count on every operation; the digest too where the key's result
    is deterministic. Returns {op index: mismatch}."""
    bad = {}
    for r in records:
        exp = expected.get(r["name"])
        if not r["ok"]:
            bad[r["i"]] = f"{r['name']}: threw: {r['error'][:200]}"
        elif exp is None:
            bad[r["i"]] = f"{r['name']}: no expected result"
        elif exp["oracle"].startswith("mismatch"):
            bad[r["i"]] = f"{r['name']}: frozen result disagrees with its oracle"
        elif str(r["rows"]) != exp["rows"]:
            bad[r["i"]] = f"{r['name']}: rows {r['rows']} != expected {exp['rows']}"
        elif exp["check"] == "digest" and r["digest"] != exp["digest"]:
            bad[r["i"]] = f"{r['name']}: digest {r['digest']} != expected {exp['digest']}"
    return bad


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _rows_equal(spark_rows, duck_rows):
    if len(spark_rows) != len(duck_rows):
        return False
    key = lambda row: [str(v) for v in row]
    return all(len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
               for a, b in zip(sorted(spark_rows, key=key),
                               sorted(map(list, duck_rows), key=key)))


def _table_digest(con, relation, cols):
    """Order-insensitive digest of a table's rows, computed by DuckDB over
    each row's text form (the same reader for both sides)."""
    row = ", ".join(f"CAST({c} AS VARCHAR)" for c in sorted(cols))
    return con.execute(f"SELECT count(*), sum(hash({row})::HUGEINT) "
                       f"FROM {relation}").fetchone()


def dml_table(name):
    return "wh_orders" if "orders" in name else "wh_lineitem"


def check_mutate(records, plan, warehouse, sf_dir):
    """Replay the executed statements in DuckDB on the same base parquet.
    Compares every read's rows, every DML's row count and the warehouse's
    final table digests. Returns ({op index: mismatch}, {op index: rows
    changed})."""
    import duckdb
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    bad, changed = {}, {}
    for r in records:
        stmt_duck = plan[r["i"]][5]
        name = r["name"]
        if not r["ok"]:
            bad[r["i"]] = f"{name}: threw: {r['error'][:200]}"
            continue
        try:
            results = [(s, con.execute(s).fetchall()) for s in stmt_duck]
        except Exception as e:  # a replay failure is a check failure
            bad[r["i"]] = f"{name}: DuckDB replay failed: {e}"
            continue
        if r["kind"] == "dml":
            n = con.execute(f"SELECT count(*) FROM {dml_table(name)}").fetchone()[0]
            changed[r["i"]] = sum(res[0][0] for s, res in results
                                  if s.startswith(("UPDATE", "DELETE", "INSERT")))
            if r["result"] != [[n]]:
                bad[r["i"]] = f"{name}: rows_after {r['result']} != DuckDB {n}"
        elif r["kind"] in ("read", "read_mv"):
            res = results[-1][1]
            if not _rows_equal(r["result"], res):
                bad[r["i"]] = f"{name}: result differs from DuckDB: {r['result'][:3]} vs {res[:3]}"
    last = max((r["i"] for r in records), default=-1)
    for table, cols in (("wh_lineitem", LINEITEM_COLS), ("wh_orders", ORDERS_COLS)):
        files = os.path.join(warehouse, table, "*.parquet")
        want = _table_digest(con, table, cols)
        got = _table_digest(con, f"read_parquet('{files}')", cols)
        if want != got:
            bad[last] = f"final {table} digest {got} != DuckDB replay {want}"
    return bad, changed


# -------------------------------------------------------------- metrics

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
                    "kind_p50_geomean_s": "s", "ops_per_s": "1/s",
                    "cpu_s_per_op": "s", "ok_frac": "frac"}


def tail(values):
    """The highest percentile with at least ten samples beyond it: the
    (n-10)th smallest value. Returns (value, percentile, n)."""
    v, n = sorted(values), len(values)
    if n < 11:
        return v[-1], 100, n
    return v[n - 11], math.floor(100 * (n - 10) / n), n


def kind_p50_geomean(timed):
    """Geometric mean, over the operation kinds (keys or statement names),
    of each kind's median latency: every kind weighs the same, however
    often it runs and wherever its latencies fall among the others'."""
    walls = {}
    for r in timed:
        walls.setdefault(r["name"], []).append(r["wall_s"])
    logs = [math.log(statistics.median(w)) for w in walls.values()]
    return math.exp(sum(logs) / len(logs))


def ops_per_s(timed, summary):
    return len(timed) / summary["window_s"]


def end_to_end(timed, summary, attempted, failed):
    walls = [r["wall_s"] for r in timed]
    value, pct, n = tail(walls)
    info = {"tail_percentile": pct, "timed_ops": n}
    return {
        "setup_s": summary["setup_s"],
        "op_p50_s": statistics.median(walls),
        "op_tail_s": value,
        "kind_p50_geomean_s": kind_p50_geomean(timed),
        "ops_per_s": ops_per_s(timed, summary),
        "cpu_s_per_op": summary["window_cpu_s"] / len(timed),
        "ok_frac": (attempted - failed) / attempted,
    }, info


LAYER_GROUPS = ("construct", "plan", "execute", "sql.execute")
EXEC_COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
                 "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
PER_LAYER_UNITS = dict(
    [("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
     ("operators.construct_task_cpu_s", "s"), ("operators.eager_ops_frac", "frac"),
     ("plans.analysis_s", "s"), ("plans.optimize_s", "s"), ("plans.physical_s", "s"),
     ("plans.graft_rules_s", "s"), ("plans.mv_rewrite_hits", "frac"),
     ("codegen.compile_s", "s"), ("codegen.compiles", "count"), ("codegen.gen_s", "s")]
    + [(f"exec.{c}", "s" if c.endswith("_s") else ("bytes" if c.endswith("bytes") else "count"))
       for c in EXEC_COUNTERS]
    + [("exec.core_util", "frac"), ("driver.thread_cpu_s", "s"),
       ("sql.dml_s", "s"), ("sql.read_s", "s"), ("sql.mv_refresh_s", "s"),
       ("sql.bytes_written", "bytes"), ("sql.files_written", "count"),
       ("sql.write_amp", "ratio"), ("sql.table_files", "count"),
       ("index.cold_extra_s", "s")]
    + [(f"self.{l}_s", "s") for l in ("op",) + LAYER_GROUPS]
    + [("trace.ops_per_s_traced", "1/s"), ("trace.ops_per_s_untraced", "1/s"),
       ("trace.overhead_ops_per_s", "1/s")])


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def self_times(spans):
    """Per layer, the mean per operation of the span's duration minus the
    part its child spans cover (children never overlap in one client)."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    acc = {l: [] for l in ("op",) + LAYER_GROUPS}
    for ss in by_op.values():
        root = next(s for s in ss if s["name"] == "op")
        kids = [s for s in ss if s["parent"] == "op"]
        acc["op"].append((root["end_ns"] - root["start_ns"]
                          - sum(k["end_ns"] - k["start_ns"] for k in kids)) / 1e9)
        for l in LAYER_GROUPS:
            acc[l].append(sum(k["end_ns"] - k["start_ns"] for k in kids if k["name"] == l) / 1e9)
    return {f"self.{l}_s": _mean(v) for l, v in acc.items()}


def per_layer(records, spans, changed, summary, untraced_ops_per_s):
    traced = [r for r in records if r["timed"]]
    g = lambda r, k: r.get(k, 0) or 0
    m = {
        "operators.construct_s": _mean(
            sum(s["end_ns"] - s["start_ns"] for s in spans
                if s["op"] == r["i"] and s["name"] == "construct") / 1e9 for r in traced),
        "operators.construct_jobs": _mean(g(r, "construct.jobs") for r in traced),
        "operators.construct_task_cpu_s": _mean(g(r, "construct.task_cpu_s") for r in traced),
        "operators.eager_ops_frac": _mean(g(r, "construct.jobs") > 0 for r in traced),
        "plans.analysis_s": _mean(g(r, "analysis_s") for r in traced),
        "plans.optimize_s": _mean(g(r, "optimize_s") for r in traced),
        "plans.physical_s": _mean(g(r, "physical_s") for r in traced),
        "plans.graft_rules_s": _mean(g(r, "graft_rules_s") for r in traced),
        "codegen.compile_s": _mean(g(r, "codegen.compile_s") for r in traced),
        "codegen.compiles": _mean(g(r, "codegen.compiles") for r in traced),
        "codegen.gen_s": _mean(g(r, "codegen.gen_s") for r in traced),
        "driver.thread_cpu_s": _mean(r["thread_cpu_s"] for r in traced),
    }
    eligible = [r for r in traced if r["kind"] == "read_mv"]
    m["plans.mv_rewrite_hits"] = _mean(bool(r.get("mv_rewrite_hit")) for r in eligible)
    for c in EXEC_COUNTERS:
        m[f"exec.{c}"] = _mean(sum(g(r, f"{l}.{c}") for l in LAYER_GROUPS) for r in traced)
    busy = sum(g(r, f"{l}.task_run_s") for r in traced for l in LAYER_GROUPS)
    m["exec.core_util"] = busy / (CORES * sum(r["wall_s"] for r in traced)) if traced else 0.0
    kind = lambda *ks: [r for r in traced if r["kind"] in ks]
    dml = kind("dml")
    m["sql.dml_s"] = _mean(r["wall_s"] for r in dml)
    m["sql.read_s"] = _mean(r["wall_s"] for r in kind("read", "read_mv"))
    m["sql.mv_refresh_s"] = _mean(r["wall_s"] for r in kind("mv_refresh"))
    m["sql.bytes_written"] = _mean(g(r, "sql.execute.output_bytes") for r in dml)
    m["sql.files_written"] = _mean(g(r, f"files.{dml_table(r['name'])}") for r in dml)
    # bytes of changed rows: rows the DuckDB replay reports changed, at the
    # rewritten table's mean on-disk bytes per row
    amps = [g(r, "sql.execute.output_bytes") * r["result"][0][0]
            / (changed[r["i"]] * r[f"bytes.{dml_table(r['name'])}"])
            for r in dml if r["ok"] and changed.get(r["i"]) and r["result"][0][0]]
    m["sql.write_amp"] = _mean(amps)
    last = [r for r in records if r["kind"] != "key"][-1:]
    m["sql.table_files"] = sum(v for r in last for k, v in r.items() if k.startswith("files."))
    # build-once cost: first (cold) call minus the warm mean, summed over the
    # sample's index-backed keys; both calls happen during set-up
    cold = {}
    for r in records:
        if r["kind"] == "key" and r.get("index"):
            cold.setdefault(r["name"], []).append(r["wall_s"])
    m["index.cold_extra_s"] = sum(max(0.0, w[0] - _mean(w[1:])) for w in cold.values() if len(w) > 1)
    m.update(self_times([s for s in spans if any(s["op"] == r["i"] for r in traced)]))
    # Tracing overhead: this run's throughput against an untraced run of
    # the same seed, each over its whole timed window.
    m["trace.ops_per_s_untraced"] = untraced_ops_per_s
    m["trace.ops_per_s_traced"] = ops_per_s(traced, summary)
    m["trace.overhead_ops_per_s"] = untraced_ops_per_s - m["trace.ops_per_s_traced"]
    return m


# ----------------------------------------------------------------- main

def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["interactive", "pipeline", "mutate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default=SF, help=argparse.SUPPRESS)
    ap.add_argument("--expected", default=None, help=argparse.SUPPRESS)
    a = ap.parse_args(argv)
    sf_dir = os.path.join(DATA, a.sf)
    if not os.path.isdir(sf_dir):
        die(f"fixtures not found: {sf_dir}")
    cp = build()
    deadline = time.monotonic() + RUN_DEADLINE_S  # after the build, which may take longer

    rng = random.Random(f"{a.workload}:{a.seed}")
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = mutate_plan(rng, a.seconds) if a.workload == "mutate" else \
        key_plan(a.workload, rng, a.seconds)
    write_plan(plan, os.path.join(work, "plan.tsv"))
    expected = None
    if a.workload != "mutate":
        expected = load_expected() if a.expected is None else \
            {r["key"]: r for r in read_tsv(a.expected)}

    def measure(label, trace):
        """One harness JVM over the plan, with every operation checked."""
        run_dir = os.path.join(work, label)
        os.makedirs(run_dir)
        out = os.path.join(run_dir, "out")
        code = java(cp, "perfbench.Harness",
                    [os.path.join(work, "plan.tsv"), sf_dir, out, str(trace)],
                    run_dir, deadline - time.monotonic())
        if code != 0 or not os.path.exists(os.path.join(out, "summary.json")):
            die(f"harness exited with {code}; see {os.path.join(run_dir, 'harness.log')}")
        records = read_jsonl(os.path.join(out, "ops.jsonl"))
        with open(os.path.join(out, "summary.json")) as f:
            summary = json.load(f)
        if not any(r["timed"] for r in records):
            die("no operation ran in the timed window")
        changed = {}
        if a.workload == "mutate":
            bad, changed = check_mutate(records, plan, os.path.join(out, "warehouse"), sf_dir)
        else:
            bad = check_keys(records, expected)
        shutil.rmtree(os.path.join(out, "warehouse"), ignore_errors=True)
        for i, why in sorted(bad.items()):
            print(f"perfbench: FAILED {label} op {i}: {why}")
        return records, summary, bad, changed, out

    records, summary, bad, changed, out = measure("untraced", 0)
    attempted, failed = len(records), len(bad)
    timed = [r for r in records if r["timed"]]
    if a.trace:
        # The same seed again, traced; the untraced run above is the
        # baseline for the tracing overhead.
        base = ops_per_s(timed, summary)
        records, summary, bad, changed, out = measure("traced", 1)
        attempted, failed = attempted + len(records), failed + len(bad)
        spans = read_jsonl(os.path.join(out, "spans.jsonl"))
        metrics = per_layer(records, spans, changed, summary, base)
        units = PER_LAYER_UNITS
        with open(os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.jsonl"), "w") as f:
            names = {r["i"]: (r["kind"], r["name"]) for r in records}
            for s in spans:
                kind, name = names.get(s["op"], ("", ""))
                f.write(json.dumps(dict(s, workload=a.workload, kind=kind, key=name)) + "\n")
    else:
        metrics, info = end_to_end(timed, summary, attempted, failed)
        units = END_TO_END_UNITS
        print(f"perfbench: workload={a.workload} seed={a.seed} timed_ops={info['timed_ops']} "
              f"tail=p{info['tail_percentile']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
